package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.store.{DocumentStore, ModelStore, Pointer}

/** The [[Pointer]] commit primitive against its FILESYSTEM CONTRACT: a
  * crash at any step leaves the old value or the new one, a concurrent
  * reader never sees the pointer missing or partial, and non-local
  * schemes are refused before anything is written. No SparkSession. */
class PointerSpec extends AnyFunSuite {

  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-pointer-spec-")
    try body(dir) finally ModelStore.deleteRecursively(dir)
  }

  test("a crash before the temp write leaves the old value") {
    withDir { dir =>
      Pointer.write(dir, "_CURRENT", "3")
      // the temp write fails: its path is a non-empty directory
      Files.createDirectories(dir.resolve("._CURRENT.tmp/x"))
      intercept[java.io.IOException](Pointer.write(dir, "_CURRENT", "4"))
      assert(Pointer.read(dir, "_CURRENT") === Some("3"))
      assert(Pointer.read(dir, "_NEVER") === None)
    }
  }

  test("a crash between the temp write and the rename: readers ignore the stray temp file and the next write replaces it") {
    withDir { dir =>
      Pointer.write(dir, "tag=run-1", "12 5")
      // the temp file a crashed rewrite left behind, truncated mid-value
      Files.writeString(dir.resolve(".tag=run-1.tmp"), "12")
      assert(Pointer.read(dir, "tag=run-1") === Some("12 5"))
      Pointer.write(dir, "tag=run-1", "13 6")
      assert(Pointer.read(dir, "tag=run-1") === Some("13 6"))
      assert(!Files.exists(dir.resolve(".tag=run-1.tmp")))
    }
  }

  test("after the rename readers see the new value, byte for byte") {
    withDir { dir =>
      Pointer.write(dir, "_CURRENT", "0")
      Pointer.write(dir, "_CURRENT", "1")
      assert(Pointer.read(dir, "_CURRENT") === Some("1"))
      // the on-disk bytes are the value alone: stores written before
      // the primitive existed hold exactly these bytes
      assert(Files.readString(dir.resolve("_CURRENT")) === "1")
      Files.writeString(dir.resolve("_FORMAT"), "2\n")
      assert(Pointer.read(dir, "_FORMAT") === Some("2"))
    }
  }

  test("a reader polling during 2,000 rewrites never sees the pointer missing or partial") {
    withDir { dir =>
      // values of varying length, each self-checking: "i:" + i padding
      def value(i: Int) = s"$i:" + "x" * (i % 37)
      Pointer.write(dir, "p", value(0))
      @volatile var done = false
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      var reads = 0L
      val reader = new Thread(() =>
        while (!done) {
          Pointer.read(dir, "p") match {
            case None => bad.add("<missing>")
            case Some(s) =>
              val i = s.takeWhile(_ != ':').toIntOption
              if (!i.exists(n => s == value(n))) bad.add(s)
          }
          reads += 1
        })
      reader.start()
      try (1 to 2000).foreach(i => Pointer.write(dir, "p", value(i)))
      finally { done = true; reader.join() }
      assert(reads > 0)
      assert(bad.isEmpty, s"reader saw ${bad.size} bad values: " +
        bad.toArray.take(5).mkString(", "))
      assert(Pointer.read(dir, "p") === Some(value(2000)))
    }
  }

  test("hdfs:// and s3a:// paths are rejected before anything is written; file: and plain paths are local") {
    withDir { dir =>
      Seq("hdfs://nn:8020/graft/store", "s3a://bucket/graft/store")
        .foreach { uri =>
          val msg = intercept[IllegalArgumentException](
            Pointer.localDir(uri)).getMessage
          assert(msg.contains("FILESYSTEM CONTRACT"), msg)
          // the stores refuse at construction, before creating any
          // directory (java.nio would otherwise create a relative one)
          intercept[IllegalArgumentException](new ModelStore(null, uri))
          intercept[IllegalArgumentException](new DocumentStore(null, uri))
          assert(!Files.exists(Paths.get(uri.takeWhile(_ != '/'))))
        }
      assert(Pointer.localDir(s"file:$dir") === dir)
      assert(Pointer.localDir(s"file://$dir") === dir)
      assert(Pointer.localDir(dir.toString) === dir)
    }
  }
}
