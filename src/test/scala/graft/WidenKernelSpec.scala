package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextAnalytics}
import graft.plans.Sizing

/** Kernel-stage widening policy ([[Sizing.widenKernelStage]]) — the
  * scan-width heuristic behind the r16/r17 text-kernel speedups. Pins the
  * lineage-cut behavior fixed for ADVICE r17: a cut frame's leaf stats
  * carry the ORIGIN byte estimate while its parallelism is the
  * checkpointed RDD's width, so the already-wide test must consult the
  * RDD, not bytes/splitSize — an already-wide checkpoint passes through
  * (no redundant round-robin exchange) while a narrow one still widens.
  * Also pins that the widened and unwidened arms return the same rows,
  * and the validated parsing of every [[Sizing]] conf key (a typo'd value
  * must name the key, not surface as a bare NumberFormatException
  * mid-query). */
class WidenKernelSpec extends SparkSpec {

  /** A >1 MiB parquet-backed corpus — past the widening floor with the
    * byte estimate the production operators actually see (file size; a
    * LocalRelation estimates strings at a 20-byte schema default and
    * would sit under the floor no matter the content). The text is
    * md5-hex so parquet compression cannot shrink it below the floor. */
  private lazy val bigDocs: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    spark.range(30000L)
      .select(col("id").as("doc_id"),
        concat_ws(" ", md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string")),
          md5((col("id") + 2).cast("string")),
          md5((col("id") + 3).cast("string"))).as("text"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def hasShuffle(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("Exchange") || p.contains("Repartition")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("already-wide lineage-cut input passes through unwidened") {
    val cut = bigDocs.repartition(4).localCheckpoint() // width == session target
    assert(cut.rdd.getNumPartitions == 4)
    val w = Sizing.widenKernelStage(cut)
    assert(!hasShuffle(w),
      s"redundant exchange on an already-wide cut:\n${w.queryExecution.executedPlan}")
  }

  test("narrow lineage-cut input above the floor still widens") {
    val cut = bigDocs.coalesce(1).localCheckpoint()
    assert(cut.rdd.getNumPartitions == 1)
    val w = Sizing.widenKernelStage(cut)
    assert(hasShuffle(w),
      s"narrow cut frame should widen:\n${w.queryExecution.executedPlan}")
    // proportional sizing: ceil(bytes / 256 KiB) capped at the session
    // width — never BELOW the input's current width + 1
    assert(w.rdd.getNumPartitions > 1)
    assert(w.rdd.getNumPartitions <= 4)
  }

  test("sub-floor input never widens (micro-fixture plans stay byte-identical)") {
    import spark.implicits._
    val tiny = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
      .coalesce(1).localCheckpoint()
    assert(!hasShuffle(Sizing.widenKernelStage(tiny)))
  }

  test("widened and unwidened arms return identical rows: a >1 MiB " +
    "parquet corpus vs the same rows as a sub-floor LocalRelation") {
    import spark.implicits._
    // 24000 docs: 12000 distinct md5-hex texts, each present twice
    // (doc i and doc i + 12000), so minhash has 12000 exact-dup pairs
    val n = 24000L
    val local = (0L until n).map { i =>
      val k = i % (n / 2)
      i -> (0 until 6).map(j => md5Hex(s"${k * 7 + j}")).mkString(" ")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_arms").toString
    local.write.mode("overwrite").parquet(dir)
    val parquet = spark.read.parquet(dir)
    // the premise: only the parquet corpus crosses the widening floor
    assert(hasShuffle(Sizing.widenKernelStage(parquet)),
      "parquet corpus should widen")
    assert(!hasShuffle(Sizing.widenKernelStage(local)),
      "LocalRelation corpus should stay under the floor")
    def quality(df: DataFrame) =
      TextAnalytics.qualityFilter(df, col("doc_id"), col("text"))
        .orderBy("doc_id").collect().toSeq
    def pairs(df: DataFrame) =
      Dedup.minhashDupPairs(df, col("doc_id"), col("text")).collect().toSeq
    val q = quality(local)
    assert(q.length == n)
    assert(quality(parquet) == q)
    val p = pairs(local)
    assert(p.length == n / 2)
    assert(pairs(parquet) == p)
  }

  test("typo'd conf values fail naming the key, not with a bare NumberFormatException") {
    // every runtime key Sizing reads, with a call that reads it
    val readers: Seq[(String, SparkSession => Any)] = Seq(
      "spark.graft.sharedKernelCutBytes" ->
        (s => Sizing.sharedKernelCutOk(s.range(1).toDF())),
      "spark.graft.shuffle.rowsPerPartition" ->
        (s => Sizing.explodedShuffleParts(s.range(1).toDF())),
      "spark.graft.verifyBroadcastBytes" ->
        (s => Sizing.verifyBroadcastOk(s.range(1).toDF(), exact = false,
          srcBytes = BigInt(1))),
      "spark.graft.pairSpillBudget" -> (s => Sizing.pairSpillBudget(s)),
      "spark.graft.pairMaxPasses" -> (s => Sizing.pairMaxPasses(s)),
      "spark.graft.pairSpillUsable" -> (s => Sizing.pairSpillUsable(s)),
      "spark.graft.sdecon.autoBytesProduct" ->
        (s => Sizing.semanticDecontaminateUsesLsh(s.range(1).toDF(),
          s.range(1).toDF())))
    for ((key, read) <- readers; bad <- Seq("256k", "true", "1.5")) {
      // a child session per case: the shared session's conf is untouched
      val s = spark.newSession()
      s.conf.set(key, bad)
      val e = intercept[IllegalArgumentException](read(s))
      assert(e.getMessage.contains(key) && e.getMessage.contains(bad),
        s"$key=$bad: ${e.getMessage}")
      // and a well-formed value reads cleanly
      s.conf.set(key, " 7 ")
      read(s)
    }
  }
}
