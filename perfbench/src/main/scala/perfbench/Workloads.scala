package perfbench

import java.io.File

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.ops.{AsOf, Dedup, Graph, ImageOps, Lsh, Projections, RangeJoin,
  Relational, TextAnalytics}
import graft.pipelines.{CorpusCuration, ImageSimilarity}
import graft.sources.{CsvTables, JsonTables, ZipImages}

/** One checked output of a job: its row count and an order-independent
  * hash over every column. */
final case class Out(name: String, rows: Long, hash: Long)

/** What a workload step sees: the session, the generated inputs and the
  * tracer. */
final class Ctx(val spark: SparkSession, val dir: String, val t: Tracer) {

  /** One layer call: `build` is the public call (including any eager jobs
    * it runs), then the result is fully materialised. */
  def step(name: String, out: String)(build: => DataFrame): Out =
    t.span(name, "step") {
      val df = t.span(s"$name.build", "build")(build)
      terminal(out, df)
    }

  /** Schema of every output seen so far, for aligning references. */
  val schemas = scala.collection.mutable.Map.empty[String, StructType]

  /** The terminal action: `bit_xor(xxhash64(struct(*)))` plus a count. */
  def terminal(out: String, df: DataFrame): Out =
    t.span(s"$out.terminal", "terminal") {
      schemas(out) = df.schema
      val (rows, hash, phases) = Ctx.digest(df)
      if (t.enabled) t.phases(t.current) = phases
      Out(out, rows, hash)
    }
}

object Ctx {
  def digest(df: DataFrame): (Long, Long, Map[String, Double]) = {
    val h = df.select(xxhash64(struct(df.columns.toIndexedSeq
        .map(c => col(s"`$c`")): _*)).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)))
    val r = h.collect()(0)
    val phases = h.queryExecution.tracker.phases.map { case (k, v) =>
      k -> v.durationMs / 1e3 }
    (r.getLong(0), r.getLong(1), phases)
  }

  /** Reference result cast to `like`'s column names and types. */
  def alignTo(ref: DataFrame, like: StructType): DataFrame =
    ref.select(like.fields.toIndexedSeq.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)
}

trait Workload {
  def name: String
  /** Typical warm job wall at local[4] with the C1-only JIT, seconds. A run
    * times a FIXED number of jobs, --seconds / nominalJobS, so any cache or
    * heap drift across a run is the same on every run instead of depending
    * on the job speed. */
  def nominalJobS: Double
  /** Untimed jobs after set-up and the reference check, for a workload whose
    * first jobs after them still run slower than the rest. */
  def settleJobs: Int = 0
  /** Program-side fixtures, run once per session inside set-up. */
  def prepare(c: Ctx): Unit = ()
  /** One job; every returned output is checked against the reference. */
  def job(c: Ctx): Seq[Out]
  /** Reference file of output `out`. */
  def refName(out: String): String = out
  /** Expected (rows, hash) of every output of the job just run on `c`: the
    * reference parquet written by the generator, cast to the program's
    * column types and hashed the same way. Runs once per process, outside
    * any timing. */
  def expected(c: Ctx): Map[String, (Long, Long)] =
    c.schemas.toMap.map { case (out, schema) =>
      val ref = Ctx.alignTo(
        c.spark.read.parquet(s"${c.dir}/ref/${refName(out)}.parquet"), schema)
      val (rows, hash, _) = Ctx.digest(ref)
      out -> (rows, hash)
    }
  /** Traced-run stage decomposition: each public call plus materialising
    * its result over the previous span's output. Returns extra metrics. */
  def stages(c: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Map[String, Workload] = Seq(TextCuration, GraphIterate, EventsRw,
    ImageLsh).map(w => w.name -> w).toMap

  /** Cache and materialise a frame. */
  def fill(df: DataFrame): DataFrame = { df.persist().count(); df }
}

/** `pipelines.CorpusCuration.curate` over the seeded corpus plus
  * marker-appended near-duplicate copies (the `corpus_curation` shape). */
object TextCuration extends Workload {
  val name = "text_curation"
  val nominalJobS = 4.5
  // the first job after set-up took 5.0-5.8 s, the later ones 4.0-4.6 s
  override val settleJobs = 1

  private def corpus(c: Ctx): DataFrame = {
    val d = c.spark.read.parquet(s"${c.dir}/input/documents.parquet")
      .select(col("doc_id"), col("text"))
    d.union(d.select(col("doc_id") + 100000000L,
      concat(col("text"), lit(" dupmarker")).as("text")))
  }

  private def curated(c: Ctx): DataFrame =
    CorpusCuration.curate(corpus(c), col("doc_id"), col("text"))

  def job(c: Ctx): Seq[Out] =
    Seq(c.step("pipelines.CorpusCuration.curate", "curation")(curated(c)))

  override def stages(c: Ctx): Map[String, Double] = {
    val t = c.t
    val base = corpus(c)
    val s1 = t.span("ops.TextAnalytics.canonical", "stage") {
      val keyed = base.withColumn("ck",
        md5(TextAnalytics.canonicalize(col("text"))))
      val first = keyed.groupBy("ck").agg(min("doc_id").as("doc_id"))
      Workloads.fill(keyed.join(first, Seq("ck", "doc_id"))
        .select("doc_id", "text"))
    }
    val quality = t.span("ops.TextAnalytics.quality", "stage") {
      val v = TextAnalytics.qualityFilter(s1, col("doc_id"), col("text"))
        .select(col("doc_id"), col("keep"))
      Workloads.fill(s1.join(v, "doc_id").filter(col("keep"))
        .select(col("doc_id"), col("text")))
    }
    val pairsSpan = t.spans.size
    val pairs = t.span("ops.Dedup.pairs", "stage") {
      Workloads.fill(Dedup.minhashDupPairs(quality, col("doc_id"),
        col("text"), ordered = false, gateSrc = Some(base)))
    }
    val comps = t.span("ops.Graph.components", "stage") {
      Workloads.fill(Graph.dedupClusters(pairs, col("id_a"), col("id_b")))
    }
    PerfbenchBridge.drainListeners(c.spark.sparkContext)
    val shuffled = t.inclusive(pairsSpan).shuffleRecords
    val yieldFrac = pairs.count().toDouble / math.max(1L, shuffled)
    Seq(s1, quality, pairs, comps).foreach(_.unpersist(true))
    Map("ops.Dedup.pair_yield" -> yieldFrac)
  }
}

/** PageRank, personalized PageRank, dedup clustering and triangle counts
  * over a seeded edge list of near-cliques, power-law hubs and chains. */
object GraphIterate extends Workload {
  val name = "graph_iterate"
  val nominalJobS = 14.0

  private def edges(c: Ctx) =
    c.spark.read.parquet(s"${c.dir}/input/edges.parquet")

  private def calls(c: Ctx): Seq[(String, String, () => DataFrame)] = {
    val e = edges(c)
    Seq(
      ("ops.Graph.pagerank", "pagerank", () =>
        Graph.pageRank(e, col("src"), col("dst"), iterations = 5)),
      ("ops.Graph.ppr", "ppr", () =>
        Graph.personalizedPageRank(e, col("src"), col("dst"),
          seeds = e.select(col("src").as("node")).distinct()
            .filter(col("node") % 13 === 0),
          seed = col("node"), iterations = 5)),
      ("ops.Graph.components", "clusters", () =>
        Graph.dedupClusters(e, col("src"), col("dst"))),
      ("ops.Graph.triangles", "triangles", () =>
        Graph.triangleCounts(e, col("src"), col("dst"))))
  }

  def job(c: Ctx): Seq[Out] =
    calls(c).map { case (span, out, f) => c.step(span, out)(f()) }
}

/** Ingest (CSV + JSONL with quarantine), CDC merge, bucketed write and
  * co-located read-back, as-of and range joins, a key-less range join the
  * optimizer rule must rewrite, and TPC-H-shaped SQL over registered
  * views. */
object EventsRw extends Workload {
  val name = "events_rw"
  val nominalJobS = 10.5
  private val BucketedTables = Seq("pb_balances", "pb_activity")

  override def prepare(c: Ctx): Unit = {
    Tables.registerAll(c.spark, s"${c.dir}/tpch")
    val wh = new File(c.spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    BucketedTables.foreach { t =>
      c.spark.sql(s"DROP TABLE IF EXISTS $t")
      Main.deleteRecursively(new File(wh, t))
    }
  }

  /** Raw events parsed from both feeds, with the quarantine verdict. */
  private def ingested(c: Ctx): DataFrame = {
    val s = c.spark
    val csv = CsvTables.eventsFromCsv(s, s"${c.dir}/input/events.csv")
      .select(col("event_id"), col("ts_s"), col("user_id"), col("event_type"),
        col("value"), lit(false).as("from_json"), lit(false).as("bad"),
        lit(0L).as("k"))
    val js = JsonTables.parseWithQuarantine(
        JsonTables.eventsFromJsonl(s, s"${c.dir}/input/events.jsonl"),
        col("props"), "k LONG")
      .select(col("event_id"), col("ts_s"), col("user_id"), col("event_type"),
        col("value"), lit(true).as("from_json"), (!col("json_ok")).as("bad"),
        when(col("json_ok"), col("parsed.k")).otherwise(0L).as("k"))
    csv.unionByName(js)
  }

  private def ingestStats(ev: DataFrame): DataFrame =
    ev.groupBy("event_type").agg(
      count(lit(1)).as("n"), min("ts_s").as("first_s"),
      max("ts_s").as("last_s"),
      sum(round(col("value") * lit(1e6)).cast("long")).as("value_micro"),
      sum(when(col("from_json") && col("bad"), 1L).otherwise(0L)).as("n_bad"),
      sum(when(col("from_json") && !col("bad"), col("k")).otherwise(0L))
        .as("k_sum_good"))

  private def merged(c: Ctx, ev: DataFrame): DataFrame = {
    val base = c.spark.table("customer").select(col("c_custkey").as("key"),
      round(col("c_acctbal") * 100).cast("long").as("val"))
    val changes = ev.select(col("user_id").as("key"),
      round(col("value") * lit(1e6)).cast("long").as("val"),
      col("event_type"), col("ts_s"), col("event_id"))
    Relational.applyChanges(base, changes, "key",
      col("event_type") === "error", col("ts_s"), col("event_id"))
  }

  private def writeTables(c: Ctx, ev: DataFrame): Unit = {
    Relational.writeBucketed(merged(c, ev), "pb_balances", "key", 8)
    Relational.writeBucketed(
      ev.groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n_events")),
      "pb_activity", "key", 8)
  }

  private def colocated(c: Ctx): DataFrame =
    c.spark.table("pb_balances").join(c.spark.table("pb_activity"), "key")
      .select("key", "val", "n_events")

  private def asof(ev: DataFrame): DataFrame =
    AsOf.backward(ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "click"),
      leftKey = col("user_id"), rightKey = col("user_id"),
      leftTs = col("ts_s"), rightTs = col("ts_s"),
      rightTieBreak = col("event_id"),
      leftCols = Seq("user_id" -> col("user_id"),
        "p_event_id" -> col("event_id"), "p_ts_s" -> col("ts_s")),
      rightCols = Seq("c_event_id" -> col("event_id"), "c_ts_s" -> col("ts_s")))

  private def rangeCount(ev: DataFrame): DataFrame = {
    val e = ev.select("event_id", "ts_s", "event_type")
    RangeJoin.countWithin(e.filter(col("event_type") === "error"), e,
      col("event_id"), col("ts_s"), col("event_id"), col("ts_s"), 300L)
      .select(col("left_id").as("event_id"), col("cnt"))
  }

  /** Key-less |Δts| <= w join in SQL: only the optimizer rule registered by
    * GraftExtensions keeps it from being a nested-loop join. */
  private def sqlRange(c: Ctx, ev: DataFrame): DataFrame = {
    ev.createOrReplaceTempView("ev_ingested")
    c.spark.sql("""
      SELECT e.event_id, count(x.event_id) AS cnt
      FROM (SELECT * FROM ev_ingested WHERE event_type = 'error') e
      JOIN ev_ingested x ON abs(e.ts_s - x.ts_s) <= 300
                        AND e.event_id <> x.event_id
      GROUP BY e.event_id""")
  }

  private def sql(c: Ctx, query: String): DataFrame =
    c.spark.sql(SparkEntry.oracleSql(query))

  override def refName(out: String): String =
    if (out == "readback") "merge" else out

  def job(c: Ctx): Seq[Out] = {
    val ev = ingested(c)
    Seq(
      c.step("sources.read", "ingest")(ingestStats(ev)),
      c.step("ops.Relational.merge", "merge")(merged(c, ev))) ++
    c.t.span("sources.write", "step") {
      c.t.span("sources.write.build", "build")(writeTables(c, ev))
      Seq(c.terminal("readback", c.spark.table("pb_balances")),
        c.terminal("colocated", colocated(c)))
    } ++ Seq(
      c.step("ops.AsOf.join", "asof")(asof(ev)),
      c.step("ops.RangeJoin.count", "range")(rangeCount(ev)),
      c.step("plans.range_join", "sql_range")(sqlRange(c, ev)),
      c.step("catalyst.sql.revenue", "revenue")(sql(c, "revenue_per_nation")),
      c.step("catalyst.sql.q5", "q5")(sql(c, "q5_local_supplier_volume")))
  }

  /** `plans.range_join_rewritten`: 1 when the key-less range join ran
    * without a nested-loop or cartesian join, i.e. the rule rewrote it. */
  override def stages(c: Ctx): Map[String, Double] = {
    val df = sqlRange(c, ingested(c))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    Map("plans.range_join_rewritten" ->
      (if (plan.contains("NestedLoopJoin") || plan.contains("CartesianProduct"))
        0.0 else 1.0))
  }
}

/** `pipelines.ImageSimilarity.run` over seeded zip images in the raw stub
  * format, at the paper's geometry (500-px tiles, factor 10). */
object ImageLsh extends Workload {
  val name = "image_lsh"
  val nominalJobS = 5.5
  val Tile = 500
  val Factor = 10
  val Queries = Seq("img00.zip", "img02.zip")

  private def zips(c: Ctx) = s"${c.dir}/input/zips"

  private def similar(c: Ctx): DataFrame =
    ImageSimilarity.run(c.spark, zips(c), Queries, tileSize = Tile,
      factor = Factor)

  // Distances come from float32 features and a driver SVD, so only the
  // candidate pairs are hashed.
  private def pairs(df: DataFrame): DataFrame =
    df.select("query_id", "candidate_id")

  /** The last job's full result (a small lineage-cut frame). */
  @volatile private var last: DataFrame = _

  /** Every planted exact-twin tile pair (and each query tile itself) must
    * be a candidate at distance 0; the candidate set of that checked run
    * is then what every job must reproduce. */
  override def expected(c: Ctx): Map[String, (Long, Long)] = {
    val got = last.collect().map(x => (x.getString(0), x.getString(1),
      x.getDouble(2))).toSet
    val want = c.spark.read.parquet(s"${c.dir}/ref/twins.parquet").collect()
      .map(x => (x.getString(0), x.getString(1), 0.0))
    val missing = want.filterNot(got.contains)
    require(missing.isEmpty,
      s"${missing.length} planted twin pairs missing, e.g. ${missing.head}")
    val (rows, hash, _) = Ctx.digest(pairs(last))
    Map("pairs" -> (rows, hash))
  }

  def job(c: Ctx): Seq[Out] =
    Seq(c.step("pipelines.ImageSimilarity.run", "pairs") {
      last = similar(c); pairs(last)
    })

  override def stages(c: Ctx): Map[String, Double] = {
    val t = c.t
    val imgs = t.span("sources.read", "stage") {
      Workloads.fill(ZipImages.readImages(c.spark, zips(c)))
    }
    val feats = t.span("ops.ImageOps.features", "stage") {
      Workloads.fill(ImageOps.tileFeatures(ImageOps.tiles(imgs, col("name"),
        col("img"), col("rows"), col("cols"), t = Tile), Factor))
    }
    val cands = t.span("ops.Lsh.candidates", "stage") {
      val banded = Lsh.withSignatureBuckets(feats, col("tile_name"),
        col("features"), 1, 13)
      Workloads.fill(Lsh.candidatesWhere(banded,
        regexp_extract(col("item_id"), "^(.*)-\\d+$", 1).isin(Queries: _*)))
    }
    val reduced = t.span("ops.Projections.pca", "stage") {
      val s = Tile / Factor
      val d = 2 * s * (s - 1)
      val rp = Projections.sparseRandomProjection(d, 42L)
      val projected = Projections.project(feats, col("tile_name"),
        col("features").cast("array<double>"), rp)
      val model = Projections.pcaFit(projected, col("proj"), 10, rp.head.length)
      Workloads.fill(model.transform(projected, col("vec_id"), col("proj")))
    }
    Seq(imgs, feats, cands, reduced).foreach(_.unpersist(true))
    Map.empty
  }
}
