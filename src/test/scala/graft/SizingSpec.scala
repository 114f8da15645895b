package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.plans.Sizing

/** The plan-sizing module's own contracts: the spill budget is a pure
  * function of usable bytes, the runtime `spark.graft.*` knob surface
  * stays inside [[Sizing]] (plus the checkpoint-dir switch), and every
  * lineage cut goes through [[graft.ops.Checkpoints.cut]]. */
class SizingSpec extends SparkSpec {

  /** (file relative to src/main/scala, line number, trimmed line) for
    * every line of a main source that `hit` accepts. */
  private def scanMain(hit: String => Boolean): List[(String, Int, String)] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"sources not found under ${root.getAbsolutePath}")
    Using.resource(Files.walk(root.toPath)) { paths =>
      paths.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex
            .collect { case (line, i) if hit(line) =>
              (root.toPath.relativize(p).toString, i + 1, line.trim) }
        }.toList
    }
  }

  test("pair spill budget is a third of usable space with no floor: a " +
    "3 GiB tmpfs plans 1 GiB, not more than the disk holds") {
    assert(Sizing.pairSpillBudgetFor(3L << 30) == (1L << 30))
    assert(Sizing.pairSpillBudgetFor(30L << 30) == (10L << 30))
    // an empty (or unknown, 0-byte) spill dir still gets a positive
    // budget, so the staged path plans passes instead of dividing by 0
    assert(Sizing.pairSpillBudgetFor(0L) == 1L)
    // explicit budgets pass through untouched
    val s = spark.newSession()
    s.conf.set("spark.graft.pairSpillBudget", "-1")
    assert(Sizing.pairSpillBudget(s) == -1L)
    s.conf.set("spark.graft.pairSpillBudget", "12345")
    assert(Sizing.pairSpillBudget(s) == 12345L)
  }

  test("every spark.graft.* key in src/main is read in Sizing.scala or " +
    "is Checkpoints.DirConf") {
    val literal = "\"spark.graft."
    val hits = scanMain(_.contains(literal))
    val stray = hits.filterNot { case (file, _, line) =>
      file == "graft/plans/Sizing.scala" ||
        (file == "graft/ops/Checkpoints.scala" &&
          line.startsWith("val DirConf = "))
    }
    assert(stray.isEmpty, "spark.graft.* keys read outside graft.plans.Sizing: " +
      stray.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n", "\n", ""))
    // the scan is live: it does see Sizing's own keys
    assert(hits.exists(_._1 == "graft/plans/Sizing.scala"))
  }

  test("every lineage cut in src/main goes through Checkpoints.cut, so " +
    "spark.graft.checkpoint.dir reaches it") {
    // a direct localCheckpoint()/checkpoint() would stay local (or
    // unconfigured) when the key asks for reliable cuts
    val comment = Seq("//", "*", "/*")
    val hits = scanMain { line =>
      val t = line.trim
      !comment.exists(t.startsWith) &&
        (t.contains("localCheckpoint(") || t.contains(".checkpoint("))
    }
    val stray = hits.filterNot(_._1 == "graft/ops/Checkpoints.scala")
    assert(stray.isEmpty, "lineage cuts bypassing Checkpoints.cut: " +
      stray.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n", "\n", ""))
    // the scan is live: it does see Checkpoints' own two calls
    assert(hits.count(_._1 == "graft/ops/Checkpoints.scala") == 2)
  }
}
