package graft.io

import java.io.File
import java.nio.file.Files

import graft.GraftSpec

/** The artifact store's reuse rules: one build per key, a marker
  * written only after a build returns, stale generations collected per
  * dataset, markers invisible to parquet readers, and a base that
  * follows `java.io.tmpdir`. Each test runs under its own temp dir,
  * deleted afterwards. */
class ArtifactsSpec extends GraftSpec {

  private def withTmpdir[T](body: File => T): T = {
    val old = System.getProperty("java.io.tmpdir")
    val dir = Files.createTempDirectory("graft-artifacts").toFile
    System.setProperty("java.io.tmpdir", dir.getPath)
    try body(dir)
    finally {
      System.setProperty("java.io.tmpdir", old)
      Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
    }
  }

  /** A one-table dataset dir with `n` rows. */
  private def dataset(root: File, name: String, n: Int): String = {
    val d = new File(root, name).getPath
    spark.range(n).write.mode("overwrite").parquet(s"$d/t.parquet")
    d
  }

  private def marked(path: String) = new File(path, Artifacts.Marker).isFile

  test("the build runs once per key") {
    withTmpdir { root =>
      val d = dataset(root, "ds", 10)
      var builds = 0
      def get(p: Int) = Artifacts.dir(d, "once", "v1", p) { out =>
        builds += 1
        Files.createDirectories(new File(out).toPath)
      }
      val a = get(1)
      assert(get(1) === a)
      assert(builds === 1 && marked(a))
      // every build parameter is part of the key
      val b = get(2)
      assert((b !== a) && builds === 2)
    }
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    withTmpdir { root =>
      val d = dataset(root, "ds", 10)
      var partial = ""
      intercept[IllegalStateException] {
        Artifacts.dir(d, "fails", "v1") { out =>
          partial = out
          Files.createDirectories(new File(out).toPath)
          Files.write(new File(out, "half").toPath, Array[Byte](1))
          throw new IllegalStateException("build failed")
        }
      }
      assert(new File(partial, "half").isFile && !marked(partial))
      var rebuilt = false
      val out = Artifacts.dir(d, "fails", "v1") { out =>
        rebuilt = true
        Files.createDirectories(new File(out).toPath)
      }
      assert(out === partial && rebuilt && marked(out))
      assert(!new File(out, "half").exists(), "the half-built directory is deleted first")
    }
  }

  test("a regenerated dataset collects its stale sibling and leaves other datasets alone") {
    withTmpdir { root =>
      val a = dataset(root, "a", 10)
      val b = dataset(root, "b", 10)
      def build(d: String) = Artifacts.dir(d, "gc", "v1") { out =>
        Files.createDirectories(new File(out).toPath)
      }
      val (a1, b1) = (build(a), build(b))
      dataset(root, "a", 20)
      // the fingerprint is memoized per JVM: forget it, as a new JVM would
      Artifacts.forget("fingerprint")
      val a2 = build(a)
      assert(a2 !== a1, "a regenerated dataset must miss its old artifact")
      assert(!new File(a1).exists(), "the stale generation is collected")
      assert(marked(a2) && marked(b1), "another dataset's artifact stays")
      assert(build(b) === b1)
    }
  }

  test("spark.read.parquet of an artifact directory ignores the marker") {
    withTmpdir { root =>
      val d = dataset(root, "ds", 10)
      val flat = Artifacts.dir(d, "flat", "v1") { out =>
        spark.range(100).write.mode("overwrite").parquet(out)
      }
      val parts = Artifacts.dir(d, "parts", "v1") { out =>
        spark.range(100).selectExpr("id", "id % 3 AS p")
          .write.mode("overwrite").partitionBy("p").parquet(out)
      }
      assert(marked(flat) && marked(parts))
      assert(spark.read.parquet(flat).count() === 100)
      val back = spark.read.parquet(parts)
      assert(back.columns.toSeq === Seq("id", "p"))
      assert(back.count() === 100)
    }
  }

  test("the base follows a java.io.tmpdir change at runtime") {
    withTmpdir { first =>
      val d = dataset(first, "ds", 10)
      var builds = 0
      def get() = Artifacts.dir(d, "moves", "v1") { out =>
        builds += 1
        Files.createDirectories(new File(out).toPath)
      }
      assert(get().startsWith(first.getPath))
      withTmpdir { second =>
        val moved = get()
        assert(moved.startsWith(second.getPath) && marked(moved) && builds === 2)
        assert(Artifacts.output(d, "out").startsWith(second.getPath))
      }
    }
  }

  test("pathKey is stable, filesystem-safe, and collision-resistant") {
    val a = Artifacts.pathKey("/data/x", "v1")
    assert(a === Artifacts.pathKey("/data/x", "v1"))
    // <dataset>_<generation>: the dataset segment hashes the path
    // ALONE so the GC prefix can never cross datasets
    assert(a.matches("[0-9a-f]{8}_[0-9a-f]{16}"))
    assert(a !== Artifacts.pathKey("/data/y", "v1"))
    assert(a.split("_")(0) !== Artifacts.pathKey("/data/y", "v1").split("_")(0),
      "different datasets must differ in the GC-prefix segment")
    // version tag busts stale layouts — but only the GENERATION
    // segment moves; same dataset keeps the same GC prefix
    val v2 = Artifacts.pathKey("/data/x", "v2")
    assert(a !== v2)
    assert(a.split("_")(0) === v2.split("_")(0),
      "same dataset must share the GC-prefix segment across versions")
  }
}
