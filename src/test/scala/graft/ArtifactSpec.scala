package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Artifact]] publishes a build complete or not at all: builds run in
  * plain files over a private fixture dir, so every law here is about
  * the publish protocol alone. */
class ArtifactSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir: Path =
    Files.createTempDirectory(Paths.get("target"), "artifact-spec-")
  private val d = sfDir.toString
  private def scratchRoot = new File(Tables.scratch(d, "x")).getParentFile

  override def beforeAll(): Unit =
    Files.writeString(sfDir.resolve("src.parquet"), "fixture bytes")

  override def afterAll(): Unit = {
    FileUtils.deleteQuietly(scratchRoot)
    FileUtils.deleteQuietly(sfDir.toFile)
  }

  private val Parts = 20

  /** A build that writes `Parts` files, each holding `tag`, pausing
    * between them so that a reader can catch a partial set. */
  private def slowBuild(tag: String)(out: String): Unit = {
    new File(out).mkdirs()
    for (i <- 0 until Parts) {
      Files.writeString(Paths.get(out, f"part-$i%02d"), tag)
      Thread.sleep(1)
    }
  }

  /** The data files of `dir`, name -> content; None when it is absent. */
  private def contents(dir: String): Option[Map[String, String]] =
    Option(new File(dir).listFiles).map(_.toSeq
      .filterNot(_.getName == Artifact.StampFile)
      .map(f => f.getName -> Files.readString(f.toPath)).toMap)

  private def leftovers(): Seq[String] =
    Option(scratchRoot.list).toSeq.flatten
      .filter(n => n.contains(".tmp-") || n.contains(".old-"))

  /** The dir's identity, which a rename keeps and a second publish
    * changes. */
  private def fileKey(dir: String): Object =
    Files.readAttributes(Paths.get(dir),
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey

  test("two racing builders publish exactly one build; a reader sees " +
      "no dir or the complete one; no temp dir survives") {
    // odd rounds race over a stale dir the builders must replace
    for (round <- 0 until 30) {
      val art = Artifact(s"race_$round", "src", recipe = "new")
      if (round % 2 == 1) art.copy(recipe = "old").get(d)(slowBuild("old"))
      val barrier = new CyclicBarrier(3)
      val builds = new AtomicInteger
      val done = new AtomicInteger
      val seen = new ConcurrentLinkedQueue[(String, Object)]
      val errors = new ConcurrentLinkedQueue[String]
      val builders = (0 until 2).map { b =>
        val t = new Thread(() => {
          barrier.await()
          try art.get(d) { out =>
            builds.incrementAndGet(); slowBuild(s"b$b")(out)
          } catch { case e: Throwable => errors.add(s"builder $b: $e") }
          finally done.incrementAndGet(): Unit
        })
        t.start(); t
      }
      val reader = new Thread(() => {
        barrier.await()
        while (done.get < 2)
          try {
            // a read that a stale dir's replacement interleaved with
            // (the dir's identity changed under it) proves nothing
            val key = fileKey(art.dir(d))
            val files = contents(art.dir(d)).get
            if (fileKey(art.dir(d)) == key) {
              val tags = files.values.toSet
              if (files.size != Parts || tags.size != 1)
                errors.add(s"partial read: ${files.size} files, tags $tags")
              else seen.add(tags.head -> key)
            }
          } catch { // no dir, or it went away mid-read
            case _: java.nio.file.NoSuchFileException =>
            case _: NoSuchElementException =>
          }
      })
      reader.start()
      (builders :+ reader).foreach(_.join())
      assert(errors.isEmpty, s"round $round: ${errors.asScala.mkString("; ")}")
      val published = contents(art.dir(d)).get
      assert(published.size == Parts && published.values.toSet.size == 1)
      assert(published.values.head != "old")
      // apart from the stale dir, the reader saw one build in one dir:
      // the one that stayed published
      val fresh = seen.asScala.toSet.filter(_._1 != "old")
      assert(
        fresh.subsetOf(Set(published.values.head -> fileKey(art.dir(d)))),
        s"round $round: reader saw $fresh")
      assert(builds.get >= 1 && builds.get <= 2)
      assert(leftovers().isEmpty, s"round $round left ${leftovers()}")
    }
  }

  test("a build that throws halfway publishes nothing, leaves no temp " +
      "dir, and the artefact published before it keeps serving") {
    val v1 = Artifact("fails", "src", recipe = "v1")
    val dir = v1.get(d)(slowBuild("v1"))
    val v2 = v1.copy(recipe = "v2")
    val e = intercept[IllegalStateException](v2.get(d) { out =>
      slowBuild("v2")(out)
      throw new IllegalStateException("build failed halfway")
    })
    assert(e.getMessage == "build failed halfway")
    assert(contents(dir).get.values.toSet == Set("v1"))
    assert(v1.get(d)(_ => fail("a current artefact was rebuilt")) == dir)
    assert(leftovers().isEmpty, s"left ${leftovers()}")
    // with nothing published before it, a failed build leaves no dir
    val fresh = Artifact("fails_fresh", "src")
    intercept[IllegalStateException](fresh.get(d) { out =>
      slowBuild("x")(out); throw new IllegalStateException("failed")
    })
    assert(!new File(fresh.dir(d)).exists())
    assert(leftovers().isEmpty, s"left ${leftovers()}")
  }

  test("a dir at the artefact path with a missing or mismatched stamp " +
      "is rebuilt, not read") {
    val art = Artifact("unstamped", "src")
    val dir = Paths.get(art.dir(d))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-stale"), "stale")
    assert(art.get(d)(slowBuild("fresh")) == dir.toString)
    assert(contents(dir.toString).get.values.toSet == Set("fresh"))
    Files.writeString(dir.resolve(Artifact.StampFile), "0:0\n")
    Files.writeString(dir.resolve("part-stale"), "stale")
    art.get(d)(slowBuild("fresh again"))
    assert(contents(dir.toString).get.values.toSet == Set("fresh again"))
    assert(leftovers().isEmpty, s"left ${leftovers()}")
  }

  test("a recipe change, or a changed source fixture, rebuilds the " +
      "artefact under the same dir name") {
    val r1 = Artifact("recipes", "src", recipe = "r1")
    val dir = r1.get(d)(slowBuild("r1"))
    assert(r1.get(d)(_ => fail("a current artefact was rebuilt")) == dir)
    val r2 = r1.copy(recipe = "r2")
    assert(r2.get(d)(slowBuild("r2")) == dir)
    assert(contents(dir).get.values.toSet == Set("r2"))
    val src = sfDir.resolve("src.parquet").toFile
    assert(src.setLastModified(src.lastModified - 60000))
    assert(r2.get(d)(slowBuild("new source")) == dir)
    assert(contents(dir).get.values.toSet == Set("new source"))
    assert(leftovers().isEmpty, s"left ${leftovers()}")
  }
}
