package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints

/** graft's plan-sizing policy: the input-volume heuristics the operators
  * layer on top of Catalyst and AQE — kernel-stage widening, exploded-
  * shuffle width, the shared-kernel cut gate, the verify-broadcast gate,
  * the quadratic-pair spill budget and the semantic-decontamination route.
  *
  * Every decision here is made from optimizer STATS at composition time
  * (no job) unless stated otherwise, and every runtime `spark.graft.*`
  * sizing key is read here, through one validated reader (default in
  * parentheses):
  *   - `spark.graft.sharedKernelCutBytes` (64 MiB): leaf bytes at which a
  *     shared kernel frame is checkpointed; `-1` never cuts.
  *   - `spark.graft.shuffle.rowsPerPartition` (1000000): exploded rows
  *     per task for expansion shuffles.
  *   - `spark.graft.verifyBroadcastBytes` (2 GiB): signature-table bytes a
  *     verify join may broadcast; `<= 0` never broadcasts.
  *   - `spark.graft.pairSpillBudget` (0): quadratic-stage spill bytes;
  *     `0` = a third of the spill dir's usable space, `-1` unbounded.
  *   - `spark.graft.pairMaxPasses` (256): cap on staged passes.
  *   - `spark.graft.pairSpillUsable` (0): per-pass live usable-space probe;
  *     `> 0` overrides it, `-1` disables the guard.
  *   - `spark.graft.sdecon.autoBytesProduct` (1e13): corpus × eval
  *     leaf-byte product above which semantic decontamination takes the
  *     LSH route.
  */
object Sizing {

  /** Runtime-conf read with a clear failure: a typo'd value (e.g. "64m")
    * must name the conf key at the call boundary, not throw a bare
    * NumberFormatException from deep inside a production query. */
  private def conf(spark: SparkSession, key: String, default: Long): Long = {
    val raw = spark.conf.get(key, default.toString)
    try raw.trim.toLong
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"conf $key must be a long, got '$raw'")
    }
  }

  /** Sum of the LEAF byte estimates feeding `src` — the input-volume
    * proxy every heuristic here sizes from (never top-of-plan stats:
    * Spark's size-only visitor estimates a join's output as the PRODUCT
    * of its children). Joins sum their children, leaves report their
    * stats, unknown stats count 0. */
  private[graft] def leafPlanBytes(src: DataFrame): BigInt = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}
    def sane(b: BigInt): BigInt =
      // unknown stats surface as defaultSizeInBytes (Long.MaxValue) —
      // treat as "no estimate" rather than exploding to the cap
      if (b <= 0 || b >= BigInt(Long.MaxValue) / 2) BigInt(0) else b
    def planBytes(p: LogicalPlan): BigInt = p match {
      case j: Join => j.children.map(planBytes).sum
      case l: LeafNode => sane(try l.stats.sizeInBytes
        catch { case _: Exception => BigInt(0) })
      case o if o.children.nonEmpty => o.children.map(planBytes).sum
      case _ => BigInt(0)
    }
    try planBytes(src.queryExecution.optimizedPlan)
    catch { case _: Exception => BigInt(0) }
  }

  /** Max partition count among lineage-cut ([[org.apache.spark.sql.execution.LogicalRDD]])
    * leaves of `src`'s optimized plan — 0 when none. A checkpointed
    * frame's PARALLELISM is its RDD's partition count, while its leaf
    * STATS still carry the origin plan's (possibly join-inflated) byte
    * estimate — so width decisions on cut inputs must consult the real
    * RDD width, not bytes/splitSize. */
  private def leafRddMaxParts(src: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.LogicalRDD
    def walk(p: LogicalPlan): Int = p match {
      case l: LogicalRDD =>
        try l.rdd.getNumPartitions catch { case _: Exception => 0 }
      case o => if (o.children.isEmpty) 0
                else o.children.map(walk).max
    }
    try walk(src.queryExecution.optimizedPlan)
    catch { case _: Exception => 0 }
  }

  /** Compressed-parquet bytes of kernel input per widened task. */
  private val KernelBytesPerTask = 256L << 10

  /** Widen the CPU-dense per-document KERNEL stage above the file scan.
    * Without this the kernel's parallelism is the parquet SPLIT count — a
    * sub-128 MB documents file is a handful of splits on any cluster, so
    * the most expensive per-byte work in the operator serializes onto 1–9
    * cores no matter how many executors exist (measured: the minhash front
    * end was near-CONSTANT ~17 s across sf0.1/sf1.0/sf3 — PROBE.md round 16
    * frontwidth family; widening cut the sf1.0 front 3.85 → 2.5 s warm,
    * 10.5 → 4.7 s cold).
    *
    * The round-robin exchange of the raw (id, text) rows is linear in
    * input bytes and far cheaper per byte than the kernel, but it is NOT
    * free at 100 TB — so it only fires when the scan is narrower than
    * the session shuffle width (a large corpus already scans thousands
    * of splits and passes through untouched). The 1 MiB floor keeps
    * micro-fixture plans (unit tests, the sf0.01 gate) byte-identical:
    * below it the kernel is sub-core-second and the exchange's fixed
    * cost dominates. Inputs behind a lineage cut keep their ORIGIN byte
    * estimate in the LogicalRDD leaf, while their actual parallelism is
    * the checkpointed RDD's partition count — so that count joins the
    * scan width in the already-wide test: a 32-wide cut frame passes
    * through untouched instead of paying a redundant round-robin exchange
    * (e.g. qualityFilter(s1) inside CorpusCuration.curate), while a
    * genuinely narrow cut frame still widens.
    *
    * The widened width is PROPORTIONAL to input bytes, not a jump to the
    * session default: `ceil(bytes / 256 KiB)` capped at the default and
    * floored above the scan width. Jump-to-target over-widened the SMALL
    * tier — at sf0.1 the 1.17 MB dup'd bench corpus got 32 near-empty
    * kernel tasks, regressing doc_pagerank 3.75 → 4.68 s because the
    * iterative tail re-planned off the wider front; proportional sizing
    * keeps the small tier near its old plan while corpora a task-width
    * past the floor still reach the full session width.
    *
    * `callerBytesPerTask` overrides the 256 KiB default for kernels whose
    * per-INPUT-byte cost is amplified beyond the text kernels the default
    * is calibrated for — e.g. the semantic decontamination exact path does
    * |eval| cosine folds per corpus row inside the broadcast-NL stage. */
  private[graft] def widenKernelStage(df: DataFrame,
                                      callerBytesPerTask: Long = -1L
                                     ): DataFrame = {
    val sql = df.sparkSession.sessionState.conf
    val target = sql.numShufflePartitions
    val bytes = leafPlanBytes(df)
    // effective current width: file-split count for scans, the real RDD
    // partition count for lineage-cut (LogicalRDD) leaves — whose byte
    // stats carry the ORIGIN estimate, not their post-shuffle width
    val curWidth = (bytes / BigInt(sql.filesMaxPartitionBytes.max(1L)))
      .max(BigInt(leafRddMaxParts(df)))
    if (bytes >= BigInt(1L << 20) && curWidth < target) {
      val perTask =
        if (callerBytesPerTask > 0L) callerBytesPerTask else KernelBytesPerTask
      val parts = ((bytes + perTask - 1) / perTask)
        .min(target).max(curWidth + 1).toInt
      df.repartition(parts)
    } else df
  }

  /** Checkpoint a shared-kernel frame ONLY when the source corpus is big
    * enough that re-running the per-byte kernel once per consumer costs
    * more than one materialization job. Below the threshold the lazy
    * two-pass plan is kept byte-identical (same posture as
    * widenKernelStage's 1 MiB floor): at bench scales a localCheckpoint
    * job costs ~0.2-0.4 s, which is MORE than a second tokenize of a
    * sub-MB corpus, while at 100 TB the duplicated kernel pass dominates
    * by orders of magnitude. */
  private[graft] def cutSharedKernel(df: DataFrame,
                                     src: DataFrame): DataFrame =
    if (sharedKernelCutOk(src)) Checkpoints.cut(df) else df

  /** Whether the shared-kernel gate is open for `src` — exposed separately
    * so operators can hang ALL of their eager machinery (materialization
    * jobs, driver-side scalar probes, broadcast-size measurements) off one
    * condition instead of paying any driver-blocking job on a sub-gate
    * corpus (the ungated minhash signature cut plus its per-call verify
    * aggregate regressed the whole family in-suite). */
  private[graft] def sharedKernelCutOk(src: DataFrame): Boolean = {
    val minBytes = conf(src.sparkSession,
      "spark.graft.sharedKernelCutBytes", 64L << 20)
    minBytes >= 0 && leafPlanBytes(src) >= BigInt(minBytes)
  }

  /** Target exploded rows per task for expansion shuffles (at least 1). */
  private[graft] def rowsPerPartition(spark: SparkSession): Long =
    conf(spark, "spark.graft.shuffle.rowsPerPartition", 1000000L).max(1L)

  /** Shuffle width for a stage whose input EXPLODES (one row per token /
    * gram / shingle): the session default, GROWN — never shrunk — when
    * the estimated exploded row count would overload the default's
    * per-partition sort buffers. The ×128 probe measured the failure
    * mode both ways: 16 partitions × ~128 M exploded gram rows
    * sort-spilled decontamination 12× (41.3 s → 3.31 s once widened,
    * PROBE.md round 8), while at ×32 the session default was FASTER than
    * an oversized width (task overhead) — hence the floor. A real
    * cluster sizes `spark.sql.shuffle.partitions` to the data; local
    * mode defaults it to the core count, so data-sized operators must
    * widen themselves.
    *
    * The estimate is bytes-based — leaf stats of the text-bearing input
    * (parquet file size, in-memory relation size, or local-relation
    * estimate), one exploded row per `bytesPerRow` input bytes (default
    * ~6: token + separator) — so it costs no job, at
    * [[rowsPerPartition]] rows per task. */
  private[graft] def explodedShuffleParts(src: DataFrame,
                                          bytesPerRow: Long = 6L): Int = {
    val spark = src.sparkSession
    val default = spark.sessionState.conf.numShufflePartitions
    val target = rowsPerPartition(spark)
    // INPUT-volume estimate, not top-of-plan stats: Spark's
    // size-only visitor estimates a join's output as the PRODUCT of its
    // children's sizes, so a frame downstream of any equi-join reports
    // petabytes for megabytes of data — measured pinning minhash stages
    // to 32768 near-empty tasks (165 s on 100k rows, PROBE.md round 13).
    // For width sizing the right proxy is the data VOLUME feeding the
    // explode, which a join bounds by the SUM of its inputs.
    // (A join-estimate already swallowed by a lineage cut is invisible
    // here — stage-boundary callers pass an explicit width instead, see
    // Dedup.minhashDupPairs' partsHint.)
    // Deliberate trade: summing RAW leaf sizes ignores the projection/
    // filter scaling the old top-of-plan stats applied, so a narrow
    // select over a wide table estimates the full file and can OVER-pin
    // width (more near-empty tasks). That error is bounded by the leaf's
    // real bytes — cheap scheduling overhead — while the product error
    // it replaces was unbounded (petabytes from megabytes, 32768 tasks);
    // in this codebase the explode sources are narrow (id, text)
    // projections of narrow tables, so the gap stays small.
    val rows = leafPlanBytes(src) / bytesPerRow
    val need = (rows / target + 1).min(32768).toInt
    need.max(default)
  }

  /** Insert an explicit `repartition(keys)` sized by
    * [[explodedShuffleParts]] ONLY when the estimate exceeds the session
    * default: small inputs keep their original plan (AQE coalescing,
    * broadcast choices untouched — the measured ×32 guard case), large
    * ones get a pinned REPARTITION_BY_NUM exchange that the downstream
    * aggregate/join on the same keys reuses. */
  private[graft] def widenForExplosion(df: DataFrame, src: DataFrame,
                                       keys: Column*): DataFrame = {
    val parts = explodedShuffleParts(src)
    if (parts > df.sparkSession.sessionState.conf.numShufflePartitions)
      df.repartition(parts, keys: _*)
    else df
  }

  /** Whether a (doc_id, sh) signature table fits the verify-broadcast
    * budget (`spark.graft.verifyBroadcastBytes`).
    *
    * `exact = true` (the table is already materialized behind a lineage
    * cut): size measured as count × 24 B + Σ|sh| × 8 B — one scalar
    * aggregate over the checkpointed blocks, the same arithmetic the
    * jaccard verify ships.
    *
    * `exact = false` (sub-gate corpus, nothing materialized): NO driver
    * job — a per-call `.head` aggregate here would re-run the shingle
    * kernel eagerly on every family call. Bound the table from the source
    * leaf bytes instead: ≤1 shingle hash (8 B) per ~2 raw text bytes plus
    * the 24 B row struct, and parquet leaf stats under-report raw text by
    * the compression ratio (≤4× on these corpora), so 8 × leaf bytes is a
    * safe ceiling — a gate-closed (<64 MiB) corpus bounds at 512 MiB,
    * always inside the 2 GiB default budget. Unknown stats (0) refuse the
    * broadcast: the keyed-join shape is correct at any scale. */
  private[graft] def verifyBroadcastOk(s: DataFrame, exact: Boolean,
                                       srcBytes: => BigInt): Boolean = {
    val limit = conf(s.sparkSession,
      "spark.graft.verifyBroadcastBytes", 2L << 30)
    if (limit <= 0) false
    else if (exact) {
      val r = s.agg(count(lit(1)),
        coalesce(sum(size(col("sh"))), lit(0L))).head
      r.getLong(0) * 24L + r.getLong(1) * 8L <= limit
    } else {
      val b = srcBytes
      b > 0 && b * 8 <= BigInt(limit)
    }
  }

  /** Usable bytes in the first `spark.local.dir` (the shuffle/spill dir),
    * probed live. */
  private def spillDirUsable(spark: SparkSession): Long = {
    val dir = spark.conf.get("spark.local.dir",
      System.getProperty("java.io.tmpdir", "/tmp")).split(",").head
    new java.io.File(dir).getUsableSpace
  }

  /** Disk budget for one quadratic candidate stage's transient shuffle/
    * sort spill. `spark.graft.pairSpillBudget`: bytes (>0), `-1` =
    * unbounded (never stage), `0` (default) = [[pairSpillBudgetFor]] the
    * spill dir's currently-usable space. */
  private[graft] def pairSpillBudget(spark: SparkSession): Long = {
    val c = conf(spark, "spark.graft.pairSpillBudget", 0L)
    if (c != 0L) c else pairSpillBudgetFor(spillDirUsable(spark))
  }

  /** The default spill budget for `usable` free bytes: a third of them.
    * No floor — a tmpfs or nearly-full spill dir gets a budget it can
    * actually hold (a fixed floor would plan more spill than the RAM disk
    * has), at the price of more staged passes. */
  private[graft] def pairSpillBudgetFor(usable: Long): Long =
    math.max(usable / 3, 1L)

  /** Cap on the number of staged passes the spill budget may ask for. */
  private[graft] def pairMaxPasses(spark: SparkSession): Long =
    conf(spark, "spark.graft.pairMaxPasses", 256L).max(1L)

  /** Live usable bytes in the spill dir, re-probed per staged pass (the
    * budget above is composition-time; the disk is shared with dumps and
    * oracle spill, so it can shrink under a running plan).
    * `spark.graft.pairSpillUsable`: `-1` disables the per-pass guard,
    * `>0` overrides the probe (test hook), `0` (default) = live probe. */
  private[graft] def pairSpillUsable(spark: SparkSession): Long = {
    val c = conf(spark, "spark.graft.pairSpillUsable", 0L)
    if (c != 0L) { if (c < 0) -1L else c }
    else spillDirUsable(spark)
  }

  /** The semantic-decontamination route: true = LSH prefilter, false =
    * exact broadcast-NL. The statistic is `leafPlanBytes(corpus) ×
    * leafPlanBytes(eval)` — pure optimizer stats, zero jobs; both sides
    * carry the same embedding schema, so the byte product is the
    * row-count product up to a constant. Measured crossover (isolated 8g
    * walls, PROBE.md `sdeconroute`): at sf1.0 (product 4.4e12) exact ≈ LSH
    * (1.28 s vs 0.89 s, inside suite noise — exact kept for its true
    * `max_eval_cos_r` audit); at sf3 (3.9e13) LSH wins 25.0→4.3 s (5.8×);
    * at sf10 (4.3e14) 108.7→5.7 s (19×). Threshold
    * `spark.graft.sdecon.autoBytesProduct`, default 1e13 — the geometric
    * midpoint of the bracketing tiers. Unknown stats (0 on either side)
    * route to LSH: the unbounded |corpus|·|eval| product is the failure
    * mode to avoid. */
  private[graft] def semanticDecontaminateUsesLsh(
      corpus: DataFrame, evalSet: DataFrame): Boolean = {
    val threshold = conf(corpus.sparkSession,
      "spark.graft.sdecon.autoBytesProduct", 10000000000000L)
    val cb = leafPlanBytes(corpus)
    val eb = leafPlanBytes(evalSet)
    cb == 0 || eb == 0 || cb * eb > BigInt(threshold)
  }
}
