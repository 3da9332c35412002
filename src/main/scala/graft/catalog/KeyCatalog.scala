package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.CatalogPlugin

/** The snapshot catalog a query key owns, with every name derived from
  * the key and the fixture dir:
  *   - `cat`   = `<key>_<sfDir with non-alphanumerics as _>`
  *   - `roCat` = `<cat>_ro`, the second ("other cluster") attach
  *   - `dir`   = absolute `Tables.scratch(sfDir, key)`
  *
  * Spark caches catalog plugin instances BY NAME, and an instance pins
  * the path it was constructed with: a name two keys shared would serve
  * the second key's DDL from the first key's instance and snapshot dir.
  * A key's name is written once, in its [[KeyCatalog.keyed]] entry, so
  * two keys cannot share a catalog or a dir, and a test reaches a key's
  * catalog through the same derivation the key uses. */
private[graft] final case class KeyCatalog(key: String, sfDir: String) {
  val cat: String = key + "_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
  val roCat: String = cat + "_ro"
  lazy val dir: String =
    new java.io.File(graft.Tables.scratch(sfDir, key)).getAbsolutePath

  /** Wipe `dir` (data + metadata, so a rerun's DDL is exact whatever a
    * prior run left), start an empty snapshot there, attach `cat` as a
    * [[WritableSnapshotCatalog]] and create its `corp` namespace. A
    * cached instance of `cat` re-persists from its own state, so the
    * DDL that follows leaves disk consistent either way. */
  def fresh(s: SparkSession): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    CatalogTransfer.writeLocal(CatalogSnapshot(Nil, Nil), dir)
    KeyCatalog.attach(s, cat, classOf[WritableSnapshotCatalog], dir)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.corp")
    cat
  }

  /** Attach `roCat`, a read-only [[SnapshotCatalog]] over `dir`. */
  def readOnly(s: SparkSession): String = {
    KeyCatalog.attach(s, roCat, classOf[SnapshotCatalog], dir)
    roCat
  }
}

private[graft] object KeyCatalog {

  /** Register catalog plugin `cls` as `name` over snapshot `dir`. */
  def attach(s: SparkSession, name: String,
      cls: Class[_ <: CatalogPlugin], dir: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$name", cls.getName)
    s.conf.set(s"spark.sql.catalog.$name.path", dir)
  }

  /** A query-map entry whose body gets the catalog its key owns. */
  def keyed(key: String)(
      f: (SparkSession, String, KeyCatalog) => DataFrame)
      : (String, (SparkSession, String) => DataFrame) =
    key -> ((s, d) => f(s, d, KeyCatalog(key, d)))
}
