package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.OptionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Stale `pid-<n>` shuffle-dir purging: a dir is stale when its pid is
  * dead, or when its start marker names an earlier process that held the
  * same (since reused) pid. */
class LocalDirsSpec extends AnyFunSuite {

  private def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }

  private def withRoot(body: File => Unit): Unit = {
    val root = Files.createTempDirectory("graft-local-dirs").toFile
    try body(root) finally rm(root)
  }

  private def pidDir(root: File, pid: Long, marker: Option[String]): File = {
    val d = new File(root, s"pid-$pid")
    d.mkdirs()
    Files.writeString(new File(d, "blockmgr-x").toPath, "shuffle data")
    marker.foreach(m => Files.writeString(new File(d, "started").toPath, m))
    d
  }

  test("a live pid whose start marker names another process is purged; " +
    "a matching or missing marker keeps the dir") {
    withRoot { root =>
      val me = ProcessHandle.current()
      val started = me.info().startInstant().toScala
      assume(started.isDefined, "this OS reports no process start instant")
      // same (live) pid, start marker of an earlier holder of that pid
      pidDir(root, me.pid(), Some("1970-01-01T00:00:00Z"))
      LocalDirs.purgeStale(root)
      assert(!new File(root, s"pid-${me.pid()}").exists(),
        "a reused pid's dir must be purged")
      val matching = pidDir(root, me.pid(), started.map(_.toString))
      LocalDirs.purgeStale(root)
      assert(matching.isDirectory, "the live owner's dir must be kept")
      new File(matching, "started").delete()
      LocalDirs.purgeStale(root)
      assert(matching.isDirectory, "an unmarked live-pid dir must be kept")
    }
  }

  test("a dead pid's dir is purged with or without a marker; other " +
    "names are left alone") {
    withRoot { root =>
      // above Linux's pid_max ceiling (2^22), so never a live process
      val dead = pidDir(root, 99999999L, None)
      val deadMarked = pidDir(root, 99999998L, Some("1970-01-01T00:00:00Z"))
      val other = new File(root, "pid-abc")
      other.mkdirs()
      LocalDirs.purgeStale(root)
      assert(!dead.exists() && !deadMarked.exists())
      assert(other.isDirectory)
    }
  }
}
