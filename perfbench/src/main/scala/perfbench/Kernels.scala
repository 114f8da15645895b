package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CompressFunctions, HashFunctions}
import graft.ops.TextAnalytics

/** Kernel microbench: each `functions` kernel expression alone over a
  * cached, seeded in-memory corpus (whole-stage codegen on). Throughput is
  * input bytes over busy seconds, the summed task run time of the kernel's
  * job, so it does not depend on how many cores the job got. */
object Kernels {
  val Docs = 16000
  val Vectors = 512
  val Dim = 4900 // the image workload's feature dimension
  val Reps = 3

  private def zipfText(rnd: java.util.Random): String = {
    val v = 20000
    val n = 40 + rnd.nextInt(121)
    Iterator.fill(n) {
      val rank = math.min(math.floor(math.exp(rnd.nextDouble() * math.log(v))),
        v.toDouble).toInt
      if (rank <= TextAnalytics.Stopwords.size) TextAnalytics.Stopwords(rank - 1)
      else s"w$rank"
    }.mkString(" ")
  }

  def run(spark: SparkSession, t: Tracer, seed: Long,
          cores: Int): Map[String, Double] = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    val docs = Seq.tabulate(Docs)(i => (i.toLong, zipfText(rnd)))
      .toDF("id", "text").repartition(cores)
      .select(col("id"), col("text"),
        TextAnalytics.tokensCol(col("text")).as("toks"))
      .withColumn("sh", HashFunctions.shingleHash64(col("toks"), 3))
      .persist()
    val vecs = Seq.tabulate(Vectors)(_ => Array.fill(Dim)(rnd.nextInt(41) - 20))
      .toDF("v").repartition(cores).persist()
    val sizes = docs.agg(sum(length(col("text"))), sum(size(col("sh"))))
      .collect()(0)
    vecs.count()
    val textBytes = sizes.getLong(0).toDouble
    val shingleBytes = 8.0 * sizes.getLong(1)
    val vecBytes = 4.0 * Vectors * Dim
    val kernels: Seq[(String, DataFrame, Column, Double)] = Seq(
      ("tokenize", docs, TextAnalytics.tokensCol(col("text")), textBytes),
      ("shingle", docs, HashFunctions.shingleHash64(col("toks"), 3), textBytes),
      ("minhash", docs, HashFunctions.minhashBuckets(col("sh"), 64, 4),
        shingleBytes),
      ("simhash", docs, HashFunctions.simhash64(col("toks")), textBytes),
      ("deflate", docs, CompressFunctions.compressRatio(col("text")), textBytes),
      ("md5chunk", vecs, HashFunctions.md5ChunkSignature(col("v"), 1), vecBytes))
    val out = kernels.map { case (name, df, k, bytes) =>
      val rates = (1 to Reps).map { _ =>
        val id = t.spans.size
        t.span(s"functions.$name", "kernel") {
          df.select(xxhash64(k).as("h")).agg(bit_xor(col("h"))).collect()
        }
        PerfbenchBridge.drainListeners(spark.sparkContext)
        bytes / 1e6 / math.max(1e-6, t.inclusive(id).taskRunMs / 1e3)
      }
      s"functions.${name}_mb_s" -> Stats.median(rates)
    }.toMap
    docs.unpersist(true)
    vecs.unpersist(true)
    out
  }
}
