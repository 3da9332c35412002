package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One §2 operator group: named DataFrame programs plus (where
  * SQL-expressible) the DuckDB oracle the driver diffs against.
  * Discipline for every oracled query (SURVEY.md §5.2): total ORDER BY
  * over a key prefix, ROUND(...,4) on floating aggregates, explicit
  * NULLS FIRST/LAST on nullable sort keys, no map-typed output columns.
  */
trait QueryGroup {
  type Q = Query
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}

/** One key's DataFrame program, `(session, sfDir) => DataFrame`. A key
  * is written as a function literal; Scala converts it to a subclass
  * defined where the literal is, so the function's class still names
  * its group's package (perfbench attributes build time to a module by
  * that name). Every call first turns off the session's
  * [[Query.ArtifactIsolation]], then builds the key. */
abstract class Query extends ((SparkSession, String) => DataFrame) {
  protected def build(s: SparkSession, sfDir: String): DataFrame

  final def apply(s: SparkSession, sfDir: String): DataFrame = {
    s.conf.set(Query.ArtifactIsolation, false)
    build(s, sfDir)
  }
}

object Query {

  /** Spark's session artifact isolation, which every key turns off.
    * Spark's codegen cache is keyed by the context classloader plus the
    * code text. With isolation on (the default), each session's tasks
    * run under their own `IsolatedSessionState` classloader, so a key
    * run in a fresh session recompiles every generated class with
    * Janino and runs it as cold, interpreted bytecode: 9 classes per
    * `agg_hash_group` run and 17 per `stream_tumbling` run at sf0.001,
    * byte-identical each time. The engine adds no session artifacts (no
    * `addArtifact`, `ADD JAR` or `USING JAR`), so isolation buys it
    * nothing. The session's `ArtifactManager` reads the setting once,
    * lazily, the first time the session runs anything; so it must be
    * set before the key does any work, and a session that has already
    * run a job keeps its isolation. Sessions cloned from it (each
    * streaming query runs in one) inherit it. */
  val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"
}
