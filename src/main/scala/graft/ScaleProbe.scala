package graft

import graft.GraftSession.scratch
import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence probe: synthesize a documents corpus one decade beyond
  * the largest driver scale factor (10× sf0.1 = 50k docs) and measure the
  * shingle-blocked dedup family (d2 jaccard, d7 containment, d3
  * minhash-LSH, p7 quality survivors) plus the blocked-candidate count on
  * BOTH corpora — local evidence that the df-cap/minShared blocking knobs
  * hold where per-row work, not fixed overhead, dominates. Results are
  * recorded in SCALE.md / BASELINE.md.
  *
  * Synthesis (deterministic, no RNG, fully distributed): the decade corpus
  * is TEN DISJOINT SHARDS, each statistically identical to sf0.1 — shard 0
  * is the original, shards 1-9 suffix every token with the shard number.
  * Within a shard the token co-occurrence structure, shingle-df profile,
  * and the corpus's real near-duplicate pairs replicate exactly; across
  * shards no shingle ever collides. That is what a 10× ORGANIC corpus
  * looks like to shingle blocking (10× the shingle mass at the same df
  * distribution, 10× the true pairs). The tempting alternative — remixing
  * the same token streams into new documents — was measured and rejected:
  * the driver corpus's vocabulary is small, so re-drawn token runs push
  * 90%+ of shingles over the df cap and the probe measures a pathological
  * boilerplate corpus instead of a bigger organic one (that regime is the
  * documented containmentPairs caveat, not the scaling question).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32
  *        sbt "runMain graft.ScaleProbe"
  * Prints one JSON line per corpus with counts and per-op seconds.
  */
object ScaleProbe {

  /** 10 disjoint sf0.1-equivalent shards (token-suffix isolation). The id
    * stride is derived from the INPUT's max doc_id (not a hard-coded
    * constant), so the "ten disjoint shards" invariant holds for any SF
    * directory the probe is pointed at — a fixed stride would silently
    * collide shards once source ids exceed it.
    */
  def synthesizeDecade(docs: DataFrame, nShards: Int = 10): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    val base = docs.select(col("doc_id"), col("text"))
    val stride = 1L + base.agg(max(col("doc_id"))).head.getLong(0)
    val shards = base
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        explode(sequence(lit(1L), lit(nShards - 1L))).as("c"))
      .select((col("doc_id") + col("c") * lit(stride)).as("doc_id"),
        array_join(
          transform(col("t"), tok => concat(tok, col("c").cast("string"))),
          " ").as("text"))
    base.unionByName(shards)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** 10 disjoint embedding shards: shard c offsets vec_id by c·stride and
    * sign-flips dimension (c mod 64), so every shard keeps the organic
    * norm/cosine distribution while no shard is a trivial copy of another
    * (identical copies would plant artificial cross-shard near-dup mass).
    */
  def synthesizeDecadeEmb(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val stride = 1L + base.agg(max(col("vec_id"))).head.getLong(0)
    val shards = base
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(1L), lit(9L))).as("c"))
      .select((col("vec_id") + col("c") * lit(stride)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === pmod(col("c"), lit(64L)).cast("int"), -x).otherwise(x))
          .as("embedding"))
    base.unionByName(shards)
  }

  /** 10 disjoint event shards: event_id and user_id offset by per-shard
    * strides, timestamps unchanged — 10× the event volume AND 10× the
    * concurrent session state (user keys), the dimension that stresses a
    * stateful streaming operator.
    */
  def synthesizeDecadeEvents(ev: DataFrame): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val base = ev.select(cols.map(col): _*)
    val strideE = 1L + base.agg(max(col("event_id"))).head.getLong(0)
    val strideU = 1L + base.agg(max(col("user_id"))).head.getLong(0)
    val shards = base
      .select(col("*"), explode(sequence(lit(1L), lit(9L))).as("c"))
      .select((col("event_id") + col("c") * lit(strideE)).as("event_id"),
        col("ts"), (col("user_id") + col("c") * lit(strideU)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    base.unionByName(shards)
  }

  /** IVF index + partial-probe profile: index build wall, probe wall for 50
    * queries at nprobe 8/32, and the measured fraction of index rows inside
    * probed cell directories — the partition-pruning evidence (a probe that
    * scans ~nprobe/nlist of the corpus at 10× is the sub-linear scale path;
    * one that scans everything is a broken index).
    */
  private def profileAnn(spark: SparkSession, label: String, emb: DataFrame): String = {
    val nVecs = emb.count()
    val dir = scratch("scale-ivf-" + label + "/idx")
    val cents = Similarity.ivfCentroids(emb, 32)
    val (_, tIndex) = timed {
      Similarity.ivfIndex(emb, cents).write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
    }
    val idx = spark.read.parquet(dir)
    val q = emb.where(col("vec_id") < 50)
    val (nRes, tProbe) = timed(
      Similarity.ivfTopKIndexed(idx, cents, q, 10, nprobe = 8).count())
    // Pruning evidence is PER QUERY: each query reads only its nprobe cells'
    // rows, so the statistic that bounds probe cost is the mean fraction of
    // index rows inside one query's probed cells (≈ nprobe/nlist under
    // balanced occupancy). The union across 50 queries covers every cell at
    // this nlist and would misread as "no pruning".
    val occ = Similarity.cellOccupancy(idx)
    val scanFracQ = q.select(col("vec_id").as("q_id"),
        explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, 8)).as("cell"))
      .join(occ, "cell").groupBy("q_id").agg(sum(col("n")).as("rows_probed"))
      .agg(avg(col("rows_probed"))).head.getDouble(0) / nVecs
    f"""{"corpus":"$label","n_vecs":$nVecs,"index_sec":$tIndex%.2f,""" +
      f""""probe50_sec":$tProbe%.2f,"topk_rows":$nRes,""" +
      f""""scan_frac_per_query":$scanFracQ%.3f}"""
  }

  /** IVF-PQ profile: the compression-tier evidence — on-disk bytes of the
    * coded index vs the raw corpus parquet (the hot/cold split ratio), plus
    * the composed search wall. At 100 TB the ratio is what decides whether
    * the hot index fits a cluster's cache.
    */
  private def profileIvfPq(spark: SparkSession, label: String,
                           emb: DataFrame, rawDir: String): String = {
    val nVecs = emb.count()
    val dir = scratch("scale-ivfpq-" + label + "/idx")
    val cents = Similarity.ivfCentroids(emb, 32)
    val books = Similarity.pqCodebooks(emb, 8, 64)
    val (_, tIndex) = timed {
      Similarity.ivfPqIndex(emb, cents, books).write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
    }
    val idxBytes = graft.sources.Compaction.dataBytes(dir)
    val rawBytes = graft.sources.Compaction.dataBytes(rawDir)
    val q = emb.where(col("vec_id") < 50)
    val (nRes, tProbe) = timed(
      Similarity.ivfPqTopKIndexed(spark.read.parquet(dir), cents, books, emb,
        q, 10, nprobe = 16, shortlistSize = 150).count())
    f"""{"corpus":"$label","n_vecs":$nVecs,"index_sec":$tIndex%.2f,""" +
      f""""index_bytes":$idxBytes,"raw_bytes":$rawBytes,""" +
      f""""compression":${rawBytes.toDouble / idxBytes}%.1f,""" +
      f""""probe50_sec":$tProbe%.2f,"topk_rows":$nRes}"""
  }

  /** Streaming backfill profile: the windowed aggregate (state ∝ windows ×
    * types — constant in corpus size) and gap sessionization (state ∝ live
    * users — the dimension the decade multiplies by 10).
    */
  private def profileStream(spark: SparkSession, label: String, path: String): String = {
    val ((nWin, winPeak), tWin) = timed {
      val (df, p) = EventStream.backfillWindowedCountsWithPeak(spark, path)
      (df.count(), p)
    }
    val ((nSess, sessPeak), tSess) = timed {
      val (df, p) = EventStream.backfillSessionsWithPeak(spark, path)
      (df.count(), p)
    }
    f"""{"corpus":"$label","windows":$nWin,"win_sec":$tWin%.2f,""" +
      f""""win_state_rows":${winPeak.rows},"win_state_bytes":${winPeak.bytes},""" +
      f""""sessions":$nSess,"sess_sec":$tSess%.2f,""" +
      f""""sess_state_rows":${sessPeak.rows},"sess_state_bytes":${sessPeak.bytes}}"""
  }

  /** Storage-layout pruning profile: row-group overlap fractions of (a) a
    * 10%-of-users range predicate on the z-ordered layout and (b) a point
    * key's bloom test on the bloom layout, measured from the parquet
    * footers — the same statistics the reader's row-group filter consults.
    * File count scales with the corpus (fixed rows/file), so a CONSTANT
    * fraction at 10× is the scaling evidence: bytes read grow only with
    * the selected slice, not the corpus.
    */
  private def profileLayout(spark: SparkSession, label: String, ev: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val n = ev.count()
    val files = math.max(16, (n / 6250L).toInt) // ~6250 rows/file at every scale
    val conf = spark.sparkContext.hadoopConfiguration
    def rowGroups(dir: String)(
        f: (org.apache.parquet.hadoop.metadata.BlockMetaData, ParquetFileReader) => Boolean): (Int, Int) = {
      var total, hit = 0
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).foreach { file =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf))
        try r.getFooter.getBlocks.asScala.foreach { b => total += 1; if (f(b, r)) hit += 1 }
        finally r.close()
      }
      (hit, total)
    }
    val zDir = scratch("layout-z-" + label + "/ev")
    val (_, tZ) = timed(
      graft.sources.ZOrderLayout.write(ev, "ts", "user_id", zDir, files))
    val userHi = ev.agg(max(col("user_id"))).head.getLong(0) / 10
    val (zHit, zTotal) = rowGroups(zDir) { (b, _) =>
      val cd = b.getColumns.asScala.find(_.getPath.toDotString == "user_id").get
      cd.getStatistics.genericGetMin.asInstanceOf[java.lang.Long] <= userHi
    }
    val bDir = scratch("layout-bloom-" + label + "/ev")
    val (_, tB) = timed(graft.sources.BloomLayout.write(
      ev, "event_id", bDir, files, expectedNdv = math.max(1000L, n / files)))
    val key = ev.agg(max(col("event_id"))).head.getLong(0) // a key that exists
    val (bHit, bTotal) = rowGroups(bDir) { (b, r) =>
      val cd = b.getColumns.asScala.find(_.getPath.toDotString == "event_id").get
      val bloom = r.getBloomFilterDataReader(b).readBloomFilter(cd)
      bloom == null || bloom.findHash(bloom.hash(key))
    }
    f"""{"corpus":"$label","n_rows":$n,"files":$files,""" +
      f""""z_write_sec":$tZ%.2f,"z_overlap_frac":${zHit.toDouble / zTotal}%.3f,""" +
      f""""bloom_write_sec":$tB%.2f,"bloom_pass_frac":${bHit.toDouble / bTotal}%.3f,""" +
      f""""row_groups":$zTotal}"""
  }

  /** Index-deletion profile: tombstone the same small id set at 1× and
    * 10×, compact, and measure what the rewrite touched. The claim under
    * test: compaction reads and rewrites ONLY the touched cells — the
    * rewritten-bytes fraction stays ≈ (touched cells' occupancy share) at
    * both scales, and with k ≤ nprobe-scale tombstones that share is far
    * below 1 (at production nlist — thousands of cells for billions of
    * rows — it is k/nlist-small; the 32-cell probe bounds it at k/32).
    * The masked read costs one broadcast of |ids| rows, measured too.
    */
  private def profileDelete(spark: SparkSession, label: String, emb: DataFrame): String = {
    val dir = scratch("scale-ivfdel-" + label + "/idx")
    val cents = Similarity.ivfCentroids(emb, 32)
    Similarity.ivfIndex(emb, cents).write.mode("overwrite")
      .partitionBy("cell").parquet(dir)
    val totalBytes = graft.sources.Compaction.dataBytes(dir)
    // a handful of ids from ONE narrow band of the id space: the realistic
    // "this source retracted a few documents" shape
    val dead = emb.where(col("vec_id") < 10).select("vec_id")
    val (_, tDelete) = timed(Similarity.ivfDelete(dead, dir))
    val (_, tMasked) = timed(Similarity.ivfReadIndex(spark, dir).count())
    val before = spark.read.parquet(dir).groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (touched, tCompact) = timed(Similarity.ivfCompact(spark, dir))
    val afterBytes = graft.sources.Compaction.dataBytes(dir)
    val after = spark.read.parquet(dir).groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nRows = before.values.sum
    // rows living in the rewritten cells = the compaction's read+write bill
    val touchedRows = before
      .filter { case (c, n) => !after.get(c).contains(n) }.values.sum
    f"""{"corpus":"$label","n_vecs":$nRows,"cells":32,""" +
      f""""delete_sec":$tDelete%.2f,"masked_read_sec":$tMasked%.2f,""" +
      f""""compact_sec":$tCompact%.2f,"cells_rewritten":$touched,""" +
      f""""index_bytes":$totalBytes,"bytes_after":$afterBytes,""" +
      f""""touched_row_frac":${touchedRows.toDouble / nRows}%.3f}"""
  }

  /** 10 disjoint fact shards for the relational OLAP profile: both
    * orderkey columns offset by the same stride, so the lineitem ⋈ orders
    * co-key survives sharding and every shard keeps the organic join
    * fan-out; dimension keys (custkey) are untouched — dimensions stay
    * 1×, exactly how a warehouse grows.
    */
  def synthesizeDecadeFacts(li: DataFrame, ord: DataFrame): (DataFrame, DataFrame) = {
    val stride = 1L + ord.agg(max(col("o_orderkey"))).head.getLong(0)
    def shard(df: DataFrame, key: String) = df
      .select(col("*"), explode(sequence(lit(1L), lit(9L))).as("c"))
      .withColumn(key, col(key) + col("c") * lit(stride)).drop("c")
    (li.unionByName(shard(li, "l_orderkey")), ord.unionByName(shard(ord, "o_orderkey")))
  }

  /** Relational OLAP profile: the Q1-shape scan aggregate and the Q5-shape
    * fact-fact join + broadcast dims at 1× and 10× fact rows. Linear (or
    * better) wall growth is the evidence the declared plans scale with the
    * data — the scan aggregate is partial-agg bound, the join is one
    * co-keyed shuffle whose dims stay broadcast at any fact scale.
    */
  private def profileOlap(label: String, li: DataFrame,
                          ord: DataFrame, cust: DataFrame, nat: DataFrame,
                          sup: DataFrame, reg: DataFrame): String = {
    val n = li.count()
    val (r1, t1) = timed(graft.operators.Relational.pricingSummary(li).collect())
    val (r5, t5) = timed(
      graft.operators.Relational.nationRevenue(cust, ord, li, nat).collect())
    // the Expand-bearing plan: rollup = the q5 pipeline + one 3× Expand
    // before the aggregate — its wall must track q5's, never blow past it
    val (r6, t6) = timed(
      graft.operators.Relational.nationRevenueRollup(cust, ord, li, nat).collect())
    // the outer-join fan-out histogram: its fact side collapses BELOW the
    // join, so the wall must track the orders pre-aggregate, not |orders|
    val (r11, t11) = timed(
      graft.operators.Relational.orderCountDistribution(cust, ord).collect())
    // the double-role snowflake: one fact-fact shuffle + broadcast dims,
    // so its wall must track q5's shape
    val (r13, t13) = timed(
      graft.operators.Relational.tradeFlows(sup, cust, ord, li, nat, reg).collect())
    f"""{"corpus":"$label","n_lineitem":$n,"q1_sec":$t1%.2f,"q1_groups":${r1.length},""" +
      f""""q5_sec":$t5%.2f,"q5_rows":${r5.length},""" +
      f""""rollup_sec":$t6%.2f,"rollup_rows":${r6.length},""" +
      f""""q13_sec":$t11%.2f,"q13_rows":${r11.length},""" +
      f""""q7_sec":$t13%.2f,"q7_rows":${r13.length}}"""
  }

  /** Cross-corpus linkage profile: A (500 perturbed rows) aligned against
    * B at 1× and 10× — the no-broadcast cell join. The statistic that
    * bounds cost is candidates PER A-ROW (Σ over its probed cells of
    * |B_cell| ≈ probes/nlist of the corpus under balance): it should grow
    * with |B| only as the per-cell occupancy does, and the top-1 recall of
    * the planted source must hold at both scales.
    */
  private def profileCross(label: String, emb: DataFrame): String = {
    val b = emb.select(col("vec_id"), col("embedding"))
    val nB = b.count()
    val a = b.where(col("vec_id") < 500)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        concat(array((element_at(col("embedding"), 1) + lit(0.1f)).cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
    val cents = Similarity.ivfCentroids(b, 32)
    val (top, tJoin) = timed(
      Similarity.crossCorpusTopK(a, b, cents, k = 1).collect())
    val recalled = top.count(r => r.getLong(0) - 10000000L == r.getLong(2))
    // candidate volume per A-row: occupancy of its 2 probed cells
    val occ = Similarity.cellOccupancy(
      Similarity.ivfIndex(b, cents)).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val candPerA = a.select(
        explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, 2)).as("cell"))
      .collect().map(r => occ.getOrElse(r.getInt(0), 0L)).sum.toDouble / 500
    f"""{"corpus":"$label","n_b":$nB,"n_a":500,"join_sec":$tJoin%.2f,""" +
      f""""top1_recall":${recalled / 500.0}%.3f,""" +
      f""""cand_per_a":$candPerA%.0f,"cand_frac":${candPerA / nB}%.3f}"""
  }

  /** Data-quality + sketch-rollup profile at 1× and 10× events/docs: the
    * one-pass constraint audit and skew profile over events, the snapshot
    * diff over documents, and the three sketch folds (HLL/KLL/theta) with
    * one range query each. The audit/fold walls must grow ~linearly (one
    * scan each); the range-query walls must NOT (they read |days| sketch
    * rows, corpus-independent by construction — the mergeable-rollup
    * story measured rather than asserted).
    */
  private def profileQuality(spark: SparkSession, label: String,
                             ev: DataFrame, docs: DataFrame): String = {
    import graft.operators.{Quality, SketchRollup}
    val n = ev.count()
    val (_, tAudit) = timed(Quality.constraintChecks(ev,
      rowChecks = Seq(
        "value_nonneg" -> (col("value") < 0),
        "type_domain" -> col("event_type").isNull),
      uniqueKeys = Seq("event_id_unique" -> Seq("event_id"))).collect())
    val (skew, tSkew) = timed(Quality.keySkewProfile(ev, "user_id").collect())
    val dir = scratch("scale-quality-" + label)
    val (_, tHllFold) = timed(
      SketchRollup.dailyDistinctSketches(ev, "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/hll"))
    val (_, tKllFold) = timed(
      SketchRollup.dailyQuantileSketches(ev, "ts", "value")
        .write.mode("overwrite").parquet(s"$dir/kll"))
    val (_, tThetaFold) = timed(
      SketchRollup.dailyThetaSketches(ev, "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/theta"))
    val (_, tHllQ) = timed(SketchRollup.rangeDistinctEstimate(
      spark.read.parquet(s"$dir/hll"), "2024-01-05", "2024-01-15").collect())
    val (_, tKllQ) = timed(SketchRollup.rangeQuantileEstimate(
      spark.read.parquet(s"$dir/kll"), "2024-01-05", "2024-01-15",
      Seq(0.5, 0.95)).collect())
    val (_, tThetaQ) = timed(SketchRollup.rangeRetentionEstimate(
      spark.read.parquet(s"$dir/theta"),
      "2024-01-01", "2024-01-11", "2024-01-15", "2024-01-25").collect())
    // snapshot diff: v2 = docs minus %17, %13 revised (the p10 rules)
    val v2 = docs.where(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" r2")))
          .otherwise(col("text")).as("text"))
    val (diff, tDiff) = timed(Pipeline.snapshotDiff(
      docs.select("doc_id", "text"), v2, "doc_id", Seq("text")).collect())
    f"""{"corpus":"$label","n_events":$n,"audit_sec":$tAudit%.2f,""" +
      f""""skew_sec":$tSkew%.2f,"skew_ratio":${skew.head.getDouble(5)}%.2f,""" +
      f""""hll_fold_sec":$tHllFold%.2f,"kll_fold_sec":$tKllFold%.2f,""" +
      f""""theta_fold_sec":$tThetaFold%.2f,"hll_query_sec":$tHllQ%.2f,""" +
      f""""kll_query_sec":$tKllQ%.2f,"theta_query_sec":$tThetaQ%.2f,""" +
      f""""diff_sec":$tDiff%.2f,"diff_classes":${diff.length}}"""
  }

  /** KEY-CARDINALITY synthesis — the axis the decade tables do NOT
    * exercise: the row count is HELD while the distinct-key count grows
    * `factor`× (each user splits into `factor` keys by the event's own id
    * digit — deterministic, no RNG, and the per-key count distribution
    * thins uniformly the way an organically wider key domain would).
    */
  def synthesizeKeyRich(ev: DataFrame, factor: Int = 10): DataFrame =
    ev.withColumn("user_id",
      col("user_id") * factor + pmod(col("event_id"), lit(factor.toLong)))

  /** Key-cardinality stress profile: the operators whose state scales with
    * DISTINCT KEYS, not rows — c4's skew profile (at-scale sketch
    * percentile; before the broadcast-stats rewrite this axis funneled the
    * whole per-key table through one window task), the x16 HLL daily fold
    * with its TOTAL SKETCH BYTES (bounded sketches must stay ~flat while
    * keys decuple), and d6's connected components over a chain graph on
    * the key domain (label volume ∝ keys, rounds ∝ log diameter).
    */
  private def profileKeyCardinality(spark: SparkSession, label: String,
                                    ev: DataFrame): String = {
    import graft.operators.{Quality, SketchRollup}
    val n = ev.count()
    val nKeys = ev.agg(countDistinct(col("user_id"))).head.getLong(0)
    val (skew, tSkew) = timed(Quality.keySkewProfile(ev, "user_id").collect())
    val dir = scratch("scale-keys-" + label)
    val (_, tFold) = timed(SketchRollup.dailyDistinctSketches(ev, "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/hll"))
    val hll = spark.read.parquet(s"$dir/hll")
      .agg(sum(length(col("sketch"))).cast("long"), count(lit(1))).head()
    // x19 heavy-hitters fold at FIXED m: candidate rows are capped at
    // days×m however wide the key domain grows — the bounded-summary
    // claim on the keys axis (the hll_bytes discipline for top-k)
    val (_, tTopk) = timed(SketchRollup
      .dailyTopKCandidates(ev, "ts", "user_id", m = 256)
      .write.mode("overwrite").parquet(s"$dir/topk"))
    val topkRows = spark.read.parquet(s"$dir/topk").count()
    // CC over the key domain: chain consecutive PRESENT keys in quads —
    // disjoint small components, the d6 shape with 10× the labels
    val keys = ev.select(col("user_id")).distinct()
    val edges = keys.select(col("user_id").as("a_id"), (col("user_id") + 1).as("b_id"))
      .where(pmod(col("a_id"), lit(4)) =!= 3)
      .join(keys.select(col("user_id").as("b_id")), Seq("b_id"), "left_semi")
    val (nCanon, tCc) = timed(Dedup.dupClusters(
        keys.select(col("user_id").as("doc_id")), edges)
      .where(col("is_canonical")).count())
    f"""{"corpus":"$label","n_events":$n,"n_keys":$nKeys,""" +
      f""""c4_sec":$tSkew%.2f,"skew_ratio":${skew.head.getDouble(5)}%.2f,""" +
      f""""hll_fold_sec":$tFold%.2f,"hll_days":${hll.getLong(1)},""" +
      f""""hll_bytes":${hll.getLong(0)},""" +
      f""""topk_fold_sec":$tTopk%.2f,"topk_rows":$topkRows,""" +
      f""""cc_labels":$nKeys,""" +
      f""""cc_components":$nCanon,"cc_sec":$tCc%.2f}"""
  }

  /** Persisted-view refresh stress (round 13): the s17 write path at 1×
    * and 10× VIEW rows with the SAME change window, bucket count scaled
    * with the data (32 → 320) so per-bucket bytes stay constant — how a
    * production view is actually provisioned. The claim under test:
    * refresh cost ∝ touched slice + change window, NOT view size — the
    * rewritten-bucket fraction shrinks 10× while the refresh wall stays
    * ~flat, and the one component that legitimately grows with the view
    * (the ids-only old-homes probe, a column-pruned slim scan) must not
    * move the total. Reported: view rows, buckets, buckets rewritten,
    * refresh wall, and the correctness anchor (rows landed = fresh join).
    */
  private def profileViewRefresh(spark: SparkSession, label: String,
                                 ord: DataFrame, cust: DataFrame,
                                 nBuckets: Int): String = {
    import graft.operators.ViewMaintenance
    import spark.implicits._
    val a = ord.select("o_orderkey", "o_custkey", "o_totalprice")
    val b = cust.select("c_custkey", "c_nationkey")
    val dir = scratch(s"scale-view-$label") + "/view"
    val (_, tInit) = timed(ViewMaintenance.writeJoinView(
      a.join(b, col("o_custkey") === col("c_custkey")), "o_custkey", nBuckets, dir))
    val nView = spark.read.parquet(dir).count()
    // the constant change window: 8 A-side updates (one a key move), one
    // fanned-out B-side change — CDC-batch scale whatever the view is
    // (small enough that its bucket footprint stays well under the 1×
    // bucket count, so the touched-byte volume is comparable across
    // scales and the wall comparison is honest)
    val changedA = (1L to 7L).map(_ * 7L) :+ 13L
    val aNew = a.withColumn("o_totalprice",
        when(col("o_orderkey").isin(changedA.map(Long.box): _*),
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      .withColumn("o_custkey",
        when(col("o_orderkey") === 13L, 5L).otherwise(col("o_custkey"))
          .cast(a.schema("o_custkey").dataType))
    val bNew = b.withColumn("c_nationkey",
      when(col("c_custkey") === 3L, 99L).otherwise(col("c_nationkey"))
        .cast(b.schema("c_nationkey").dataType))
    // rewrite detection by sorted FILE-NAME listing, not mtime: part-file
    // names carry the writing job's UUID, so a rewrite always changes the
    // set, while mtimes can collide within a coarse filesystem tick
    def bucketDirs(): Map[String, Seq[String]] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(dir))(_.filter(
        _.getFileName.toString.startsWith("bucket=")).map { d =>
        d.getFileName.toString ->
          graft.util.FsUtil.listDir(d)(_.map(_.getFileName.toString).toSeq.sorted)
      }.toMap)
    val before = bucketDirs()
    val (_, tRefresh) = timed(ViewMaintenance.refreshJoinViewPartitions(
      spark, dir, aNew, bNew, "o_orderkey", "o_custkey", "c_custkey",
      changedA.toDF("o_orderkey"), Seq(3L).toDF("c_custkey"), nBuckets))
    val after = bucketDirs()
    val rewritten = after.count { case (k, t) => before.get(k).forall(_ != t) }
    val landed = spark.read.parquet(dir).count()
    val freshRows = aNew.join(bNew, col("o_custkey") === col("c_custkey")).count()
    f"""{"corpus":"$label","view_rows":$nView,"buckets":${before.size},""" +
      f""""init_sec":$tInit%.2f,"refresh_sec":$tRefresh%.2f,""" +
      f""""buckets_rewritten":$rewritten,"rows_landed":$landed,""" +
      f""""fresh_join_rows":$freshRows,"exact":${landed == freshRows}}"""
  }

  /** Persisted-SCD2-history refresh stress: same CONSTANT change window
    * (8 updates + 1 delete + 1 insert) against a 1× and a 10× history,
    * bucket count scaled so per-bucket bytes hold constant. The claim
    * under test: one advance's wall tracks the TOUCHED slice (bounded by
    * |changed ids| buckets), not the history's bulk — flat-ish wall and
    * buckets_rewritten ≤ |changed ids| at 10× is the evidence. Exactness
    * is asserted in-probe: landed rows = old rows + upserts, and every
    * changed id's pre-image interval is closed at the change version.
    */
  private def profileHistoryRefresh(spark: SparkSession, label: String,
                                    ord: DataFrame, nBuckets: Int): String = {
    import graft.store.MetadataStore
    import spark.implicits._
    val hist0 = ord.select(
      col("o_orderkey").cast("string").as("id"),
      col("o_totalprice").as("price"),
      lit(1L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val dir = scratch(s"scale-hist-$label") + "/h"
    graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    val (_, tInit) = timed(MetadataStore.writeHistory(hist0, nBuckets, dir))
    val nHist = spark.read.parquet(dir).count()
    // constant window: 8 price revisions + 1 brand-new id (upserts), 1
    // delete — changed ids drawn deterministically from the data so the
    // pre-image count is exact at every scale (keys stay unique at 10×:
    // the decade synthesis strides them)
    val keys = ord.select(col("o_orderkey").cast("long"))
      .orderBy("o_orderkey").limit(9).as[Long].collect()
    val upserts = (keys.take(8).toSeq :+ -1L).map(k => (k.toString, 1.0, 2L, "upsert"))
    val changes = (upserts :+ ((keys(8).toString, 0.0, 2L, "delete")))
      .toDF("id", "price", "change_version", "change_op")
    def bucketDirs(): Map[String, Seq[String]] = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(dir))(_.filter(
        _.getFileName.toString.startsWith("bucket=")).map { d =>
        d.getFileName.toString ->
          graft.util.FsUtil.listDir(d)(_.map(_.getFileName.toString).toSeq.sorted)
      }.toMap)
    val before = bucketDirs()
    val (_, tRefresh) = timed(
      MetadataStore.refreshHistoryPartitions(spark, dir, changes, nBuckets))
    val after = bucketDirs()
    val rewritten = after.count { case (k, t) => before.get(k).forall(_ != t) }
    val landed = spark.read.parquet(dir).count()
    val closed = spark.read.parquet(dir)
      .where(col("id").isin(changes.select("id").as[String].collect()
        .map(x => x: Any): _*) && col("valid_to") === 2L).count()
    val exact = landed == nHist + upserts.size && closed == 9L // 8 revised + 1 deleted pre-image (the new id has none)
    f"""{"corpus":"$label","hist_rows":$nHist,"buckets":${before.size},""" +
      f""""init_sec":$tInit%.2f,"refresh_sec":$tRefresh%.2f,""" +
      f""""buckets_rewritten":$rewritten,"rows_landed":$landed,""" +
      f""""closed_preimages":$closed,"exact":$exact}"""
  }

  /** Delivered-corpus takedown stress: export at 1× and 10× rows, then
    * purge the SAME 3-id batch. The claim: purge wall tracks the TOUCHED
    * shards (≤ 3 of them), not the corpus — the id-list path never scans
    * cold shards (static partition pruning), so its wall should hold
    * ~flat while the predicate path's DISCOVERY scan (the honest price of
    * revocation-by-description) grows with the corpus but stays a
    * column-pruned single pass. Exactness asserted in-probe via the
    * manifest row-count identity.
    */
  private def profileTakedown(spark: SparkSession, label: String,
                              docs: DataFrame, shards: Int): String = {
    import spark.implicits._
    val dir = scratch(s"scale-takedown-$label") + "/corpus"
    graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    val (_, tExport) = timed(Pipeline.shardExport(docs, dir, shards))
    val n0 = spark.read.parquet(dir).count()
    val doomed = docs.select(col("doc_id")).orderBy("doc_id")
      .limit(3).as[Long].collect().toSeq
    val (removed, tPurge) = timed(
      Pipeline.purgeShardExport(spark, dir, doomed, shards))
    val srcMin = docs.agg(min(col("source"))).as[String].head()
    val (revoked, tWhere) = timed(
      Pipeline.purgeShardExportWhere(spark, dir, col("source") === srcMin, shards))
    val landed = spark.read.parquet(dir).count()
    val manifest = spark.read.parquet(s"$dir/_manifest")
      .agg(sum(col("n_docs"))).head.getLong(0)
    val exact = removed == 3L && landed == n0 - removed - revoked && manifest == landed
    f"""{"corpus":"$label","n_docs":$n0,"shards":$shards,""" +
      f""""export_sec":$tExport%.2f,"purge_ids_sec":$tPurge%.2f,""" +
      f""""revoked":$revoked,"purge_where_sec":$tWhere%.2f,""" +
      f""""rows_landed":$landed,"exact":$exact}"""
  }

  /** Shard-export profile: the delivery step at 1× and 10× — one hash
    * shuffle, per-shard balance (max/min docs), wall. Linear wall and flat
    * skew at 10× is the evidence the trainer-facing export scales.
    */
  private def profileExport(spark: SparkSession, label: String, docs: DataFrame): String = {
    val dir = scratch("scale-export-" + label + "/corpus")
    val (_, tExport) = timed(Pipeline.shardExport(docs, dir, shards = 32))
    val m = spark.read.parquet(s"$dir/_manifest")
      .agg(min(col("n_docs")), max(col("n_docs")), sum(col("n_docs")))
      .head()
    f"""{"corpus":"$label","n_docs":${m.getLong(2)},"shards":32,""" +
      f""""export_sec":$tExport%.2f,"min_shard":${m.getLong(0)},""" +
      f""""max_shard":${m.getLong(1)},""" +
      f""""skew":${m.getLong(1).toDouble / m.getLong(0)}%.3f}"""
  }

  /** Classifier + weighted-sample scaling: train wall must be one
    * tokenize/explode pass (data-linear) with the weight table held at
    * vocabulary scale regardless of corpus rows; scoring and sampling are
    * narrow per-row maps (shuffle-free) so their walls track the scan.
    * The decade synthesis suffixes tokens per shard, so the 10× corpus
    * also carries ~10× the vocabulary — the weight table is pinned to the
    * top-256 cut either way, which is exactly the claim under test.
    */
  private def profileClassifier(label: String,
                                docs: DataFrame): String = {
    val nDocs = docs.count()
    val wts = TextAnalysis.trainQualityClassifier(docs).cache()
    val (nVocab, tTrain) = timed(wts.count())
    val (nHq, tScore) = timed(
      TextAnalysis.scoreWithClassifier(docs, wts)
        .where(col("predicted_hq")).count())
    val (nKept, tSample) = timed(Pipeline.weightedSample(docs).count())
    wts.unpersist()
    f"""{"corpus":"$label","n_docs":$nDocs,"vocab_rows":$nVocab,""" +
      f""""train_sec":$tTrain%.2f,"score_sec":$tScore%.2f,""" +
      f""""predicted_hq":$nHq,"sample_sec":$tSample%.2f,""" +
      f""""kept":$nKept,"kept_frac":${nKept.toDouble / nDocs}%.4f}"""
  }

  /** DSIR selection scaling: the decade synthesis suffixes tokens per
    * shard, so the 10× corpus carries ~10× the raw vocabulary — the axis
    * the top-256 target-vocab cut must absorb (the t20 weight-cut story
    * applied to p19). Measures the vocab pass, the full weight scan, the
    * top-50 cut, and the hashed-space twin.
    */
  private def profileDsir(label: String, docs: DataFrame): String = {
    val nDocs = docs.count()
    val target = docs.where(col("lang") === "en")
    // force the SCORES, not just cardinality: a bare count() lets the
    // optimizer eliminate the unique-key left join and the whole scoring
    // DAG (rows are known from allDocs alone) and measures a doc count
    def force(w: DataFrame): Long = w
      .agg(sum(abs(col("logw"))) + sum(col("n_feat"))).collect()(0).getDouble(0).toLong
    val (nVocab, tVocab) = timed(Pipeline.dsirVocab(target, 256).count())
    val (_, tW) = timed(force(Pipeline.dsirWeights(docs, target, 256)))
    val (_, tTop) = timed(Pipeline.dsirTopK(docs, target, 50, 256).count())
    val (_, tH) = timed(force(Pipeline.dsirWeightsHashed(docs, target, 4096)))
    f"""{"corpus":"$label","n_docs":$nDocs,"vocab_rows":$nVocab,""" +
      f""""vocab_sec":$tVocab%.2f,"weights_sec":$tW%.2f,""" +
      f""""top50_sec":$tTop%.2f,"hashed_sec":$tH%.2f}"""
  }

  /** Search-scoring scaling: phrase (native kernel vs the interpreted HOF
    * twin — the q10 cost-class claim measured) and BM25 at 1× vs 10×
    * corpus rows. Everything here should track the scan; the
    * kernel-vs-HOF ratio is the number that justifies PhraseCountExpr.
    */
  private def profileSearch(label: String,
                            entries: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val nDocs = entries.count()
    val terms = Seq("table", "hash")
    val (nPhrase, tKernel) = timed(
      graft.exec.SearchExecutor.phraseSearch(entries, "table hash", k = 10).count())
    // the interpreted positional-HOF twin over the same field
    val toks = graft.analyzers.Analyzers.standardTokens(col("dataSample"))
    val l = terms.length
    val hofTf = when(size(toks) >= l,
      size(filter(sequence(lit(1), size(toks) - lit(l - 1)),
        i => terms.zipWithIndex.map { case (w, j) =>
          element_at(toks, (i + lit(j)).cast("int")) === lit(w)
        }.reduce(_ && _)))).otherwise(lit(0)).cast("long")
    val (hofSum, tHof) = timed(
      entries.agg(sum(hofTf)).collect()(0).getLong(0))
    val (_, tBm25) = timed(
      graft.exec.SearchExecutor.bm25Search(entries, terms, k = 10).count())
    f"""{"corpus":"$label","n_docs":$nDocs,"phrase_hits":$nPhrase,""" +
      f""""kernel_sec":$tKernel%.2f,"hof_sec":$tHof%.2f,"hof_tf_sum":$hofSum,""" +
      f""""bm25_sec":$tBm25%.2f}"""
  }

  /** Co-occurrence scaling: the j14 claim is that candidate volume is
    * LINEAR in users (per-user fanout bounded by the bot cap, items
    * fixed), so 10× users ⇒ ~10× candidate pair rows and a wall that
    * tracks them — never an item×item or user×user blow-up.
    */
  private def profileCooc(label: String, ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    val ui = ev.where(col("event_type") === "view")
      .select(col("user_id"), item.cast("int").as("item"))
      .where(col("item").isNotNull).distinct()
    val nUsers = ui.select("user_id").distinct().count()
    val capped = ui.join(
      ui.groupBy("user_id").agg(count(lit(1)).as("nu")).where(col("nu") <= 50),
      Seq("user_id"), "left_semi")
    val (nCand, tCand) = timed(capped.as("a").join(capped.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") =!= col("b.item"))
      .count())
    val (nOut, tTop) = timed(
      graft.operators.EventAnalytics.itemNeighbors(ev, item).count())
    f"""{"corpus":"$label","n_users":$nUsers,"cand_pairs":$nCand,""" +
      f""""cand_sec":$tCand%.2f,"neighbors_rows":$nOut,"top_sec":$tTop%.2f}"""
  }

  private def profileGraph(label: String,
                           ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    val (edges, tEdges) = timed {
      val e = graft.operators.Graph.coviewEdges(ev, item)
      (e, e.count())
    }
    val (_, t5) = timed(graft.operators.Graph.pageRank(edges._1, iters = 5).count())
    val (_, t10) = timed(graft.operators.Graph.pageRank(edges._1, iters = 10).count())
    f"""{"corpus":"$label","n_edges":${edges._2},"edges_sec":$tEdges%.2f,""" +
      f""""pr5_sec":$t5%.2f,"pr10_sec":$t10%.2f}"""
  }

  /** Ten DISJOINT copies of the co-view graph: user ids AND item ids both
    * shard-shifted (props rewritten to the shifted digits), so n_edges and
    * true triangle counts scale exactly 10× while the degree distribution
    * is preserved — the honest axis for the triangle/link-prediction
    * family, where [[synthesizeDecadeEvents]] (users only) just densifies
    * the same 100-item graph.
    */
  def synthesizeDecadeGraphEvents(ev: DataFrame): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val base = ev.select(cols.map(col): _*)
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    // one aggregation pass for all three strides, not three corpus scans
    val strides = base.agg(max(col("event_id")), max(col("user_id")),
      max(item.cast("long"))).head
    val (strideE, strideU, strideI) =
      (1L + strides.getLong(0), 1L + strides.getLong(1), 1L + strides.getLong(2))
    val shards = base
      .select(col("*"), explode(sequence(lit(1L), lit(9L))).as("c"))
      .select((col("event_id") + col("c") * lit(strideE)).as("event_id"),
        col("ts"), (col("user_id") + col("c") * lit(strideU)).as("user_id"),
        col("event_type"), col("value"),
        when(item =!= "",
          concat(lit("{\"k\": "),
            (item.cast("long") + col("c") * lit(strideI)).cast("string"),
            lit("}"))).otherwise(col("props")).as("props"))
    base.unionByName(shards)
  }

  private def profileTri(label: String, ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    // edges PERSISTED behind the count so the timed sections measure the
    // wedge/anti-join work, not repeated co-view derivation (each operator
    // references the edge table several times internally)
    val (edges, tEdges) = timed {
      val e = graft.operators.Graph.coviewEdges(ev, item).persist()
      (e, e.count())
    }
    val (triSum, tTri) = timed {
      graft.operators.Graph.triangleStats(edges._1)
        .agg(sum("tri")).head.getLong(0) / 3 // corners → triangles
    }
    val (nPred, tLp) = timed(
      graft.operators.Graph.linkPrediction(edges._1, k = 20).count())
    edges._1.unpersist()
    f"""{"corpus":"$label","n_edges":${edges._2},"edges_sec":$tEdges%.2f,""" +
      f""""triangles":$triSum,"tri_sec":$tTri%.2f,""" +
      f""""lp_rows":$nPred,"lp_sec":$tLp%.2f}"""
  }

  /** g6 community probe: the support-thresholded co-view graph at 1× and
    * on ten DISJOINT copies (user AND item ids shifted) — support is
    * preserved within each copy, so the thresholded graph is exactly ten
    * disjoint replicas and communities/nodes must scale exactly 10×
    * while the superstep count (diameter) stays CONSTANT — the claim
    * that makes fixpoint label propagation 100 TB-shaped.
    */
  private def profileComm(label: String, ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    val ui = ev.where(col("event_type") === "view")
      .select(col("user_id"), item.cast("int").as("item"))
      .where(col("item").isNotNull).distinct()
    val (edges, tEdges) = timed {
      val e = graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
        .where(col("support") >= 8).select("src", "dst").persist()
      (e, e.count())
    }
    val (stats, tComm) = timed {
      val r = graft.operators.Graph.labelCommunities(edges._1)
        .agg(count(lit(1)), countDistinct("community")).head
      (r.getLong(0), r.getLong(1))
    }
    edges._1.unpersist()
    f"""{"corpus":"$label","n_edges":${edges._2},"edges_sec":$tEdges%.2f,""" +
      f""""n_nodes":${stats._1},"n_comms":${stats._2},"comm_sec":$tComm%.2f}"""
  }

  /** g9 SSSP probe: seeds {0, 9} live only in copy 0 of the ten disjoint
    * replicas, so the REACHED set (and every distance) must be identical
    * at 1× and 10× while the edge table grows tenfold — the sparse-
    * frontier claim: per-superstep cost is one co-partitioned join over
    * the bigger edge cache, the distance table stays seed-component-sized,
    * and the superstep count (weighted diameter) is CONSTANT.
    */
  private def profileSssp(label: String, ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    val ui = ev.where(col("event_type") === "view")
      .select(col("user_id"), item.cast("int").as("item"))
      .where(col("item").isNotNull).distinct()
    val (edges, tEdges) = timed {
      val e = graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
        .where(col("support") >= 6)
        .select(col("src"), col("dst"),
          expr("CAST(1000000 DIV support AS BIGINT)").as("w")).persist()
      (e, e.count())
    }
    val (stats, tSssp) = timed {
      val r = graft.operators.Graph.sssp(edges._1, seeds = Seq(0, 9))
        .agg(count(lit(1)), count("dist"), sum("dist")).head
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    edges._1.unpersist()
    f"""{"corpus":"$label","n_edges":${edges._2},"edges_sec":$tEdges%.2f,""" +
      f""""n_nodes":${stats._1},"n_reached":${stats._2},""" +
      f""""dist_sum":${stats._3},"sssp_sec":$tSssp%.2f}"""
  }

  /** p22 FFD-packing probe on BOTH shard axes: 10× documents with the
    * shard count FIXED (docs-per-shard grows 10× — the worst case the
    * sequential per-shard scan faces) and with the shard count SCALED 10×
    * (docs-per-shard constant — the documented at-scale design). The
    * claim that matters: the scaled axis holds wall near-flat-per-doc
    * while efficiency stays put, so "more data → more shards" is the
    * whole scaling story.
    */
  private def profilePack(label: String, docs: DataFrame, shards: Int): String = {
    val nDocs = docs.count()
    val (eff, tPack) = timed {
      val out = graft.operators.Pipeline
        .packFirstFitDecreasing(docs, cap = 512, shards = shards)
        .groupBy("bin_id").agg(sum("n_tokens").as("tok"))
        .agg(sum("tok").as("toks"), count(lit(1)).as("bins")).head
      (out.getLong(0) * 1000000L) / (out.getLong(1) * 512L)
    }
    f"""{"corpus":"$label","n_docs":$nDocs,"shards":$shards,""" +
      f""""eff_e6":$eff,"pack_sec":$tPack%.2f}"""
  }

  private def profile(label: String, docs: DataFrame): String = {
    val nDocs = docs.count()
    // candidate volume through the shared blocking chain (d2/d7's input)
    val (nCands, tBlock) = timed(
      Dedup.blockedIdPairs(Dedup.withShingles(docs, 3), maxDf = 20, minShared = 3).count())
    val (nJac, tJac) = timed(Dedup.jaccardPairs(docs).count())
    val (nCont, tCont) = timed(Dedup.containmentPairs(docs).count())
    val (nMh, tMh) = timed(Dedup.minhashPairs(docs, threshold = 0.6).count())
    val (nSurv, tP7) = timed(
      Pipeline.bestQualitySurvivors(docs,
        Dedup.jaccardPairs(docs).select("a_id", "b_id")).count())
    f"""{"corpus":"$label","n_docs":$nDocs,"blocked_candidates":$nCands,""" +
      f""""block_sec":$tBlock%.2f,"d2_pairs":$nJac,"d2_sec":$tJac%.2f,""" +
      f""""d7_pairs":$nCont,"d7_sec":$tCont%.2f,"d3_pairs":$nMh,"d3_sec":$tMh%.2f,""" +
      f""""p7_survivors":$nSurv,"p7_sec":$tP7%.2f}"""
  }

  /** g11 k-core probe: ten disjoint graph copies → core membership must be
    * EXACTLY 10× (each copy carries an identical core, peeling never
    * crosses copies) with the peel-round count CONSTANT — per-round cost
    * is the semi-join over the bigger once-partitioned edge cache, the
    * honest iterative bill, never rounds × copies.
    */
  private def profileKcore(label: String, ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    val ui = ev.where(col("event_type") === "view")
      .select(col("user_id"), item.cast("int").as("item"))
      .where(col("item").isNotNull).distinct()
    val (core, t) = timed {
      val r = graft.operators.Graph.kCore(
        graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
          .where(col("support") >= 6).select("src", "dst"), k = 4)
        .agg(count(lit(1)), coalesce(sum("core_deg"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    f"""{"corpus":"$label","core_nodes":${core._1},"core_degsum":${core._2},"kcore_sec":$t%.2f}"""
  }

  /** g10 HITS probe on ten disjoint graph copies: per-copy structure is
    * identical and both normalizations divide by the GLOBAL max — which
    * every copy attains by symmetry — so the full authority table at 10×
    * is each copy's table replicated: items ×10, Σauth ×10, max auth
    * INVARIANT; superstep count fixed by construction (iters is a
    * parameter, and each superstep is two co-partitioned aggregates over
    * the once-persisted edge cache — the wall must track the edge mass,
    * never 2^iters lineage).
    */
  private def profileHits(label: String, ev: DataFrame): String = {
    val item = regexp_extract(col("props"), "(\\d+)", 1)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), item.cast("int").as("item"))
      .where(col("item").isNotNull)
    val (r, t) = timed {
      val out = graft.operators.Graph.hits(views, iters = 3, k = Int.MaxValue)
        .agg(count(lit(1)), coalesce(sum("auth_e6"), lit(0L)),
          coalesce(max("auth_e6"), lit(0L))).head
      (out.getLong(0), out.getLong(1), out.getLong(2))
    }
    f"""{"corpus":"$label","n_items":${r._1},"auth_sum":${r._2},"auth_max":${r._3},"hits_sec":$t%.2f}"""
  }

  /** t31 KN-trigram probe on the shard-suffixed decade: the vocabulary —
    * and with it the trigram TYPE table every continuation count reads —
    * grows ~10×, the axis that stresses a smoothed LM (a replicated-rows
    * decade would leave the type tables untouched and measure nothing).
    * Shards are isomorphic under token renaming and every interpolated-KN
    * statistic is invariant under a vocabulary permutation, so the 10
    * copies of a document MUST score identical xent3 even though the
    * global denominators (type totals) all grew 10× — that equality is
    * the probe's correctness gate (max_distinct_xent == 1).
    */
  private def profileKn(label: String, docs: DataFrame, stride: Long): String = {
    val (r, t) = timed {
      val g = graft.operators.TextAnalysis.trigramLmKN(docs)
        .groupBy(pmod(col("doc_id"), lit(stride)).as("base"))
        .agg(countDistinct(col("xent3")).as("nx"), count(lit(1)).as("nc"))
        .agg(count(lit(1)), coalesce(max("nx"), lit(0L)),
          coalesce(sum("nc"), lit(0L))).head
      (g.getLong(0), g.getLong(1), g.getLong(2))
    }
    require(r._2 <= 1L,
      s"KN copies diverged: a base doc scored ${r._2} distinct xent3 values")
    f"""{"corpus":"$label","n_base_docs":${r._1},"max_distinct_xent":${r._2},"n_docs":${r._3},"kn_sec":$t%.2f}"""
  }

  /** o35 basket-lift probe: ten disjoint ORDER copies over the SAME brand
    * domain → every per-order basket replicates, so supports scale ×10
    * while confidence and lift are IDENTICAL (support·10, singles·10,
    * total·10 — the ratios cancel): the report VALUES are invariant under
    * uniform replication, which the probe REQUIRES row-for-row; wall
    * scales with the fact, the pair join stays basket-bounded.
    */
  private def profileBasket(liRaw: DataFrame, part: DataFrame): Seq[String] = {
    val li = liRaw.select("l_orderkey", "l_partkey")
    val stride = 1L + li.agg(max("l_orderkey")).head.getLong(0)
    val li10 = li.select(col("*"), explode(sequence(lit(0L), lit(9L))).as("c"))
      .select((col("l_orderkey") + col("c") * lit(stride)).as("l_orderkey"),
        col("l_partkey"))
    def run(label: String, fact: DataFrame): (Seq[(String, String, Long, Long)], String) = {
      val ((rows, nPairs), t) = timed {
        val out = graft.operators.Relational.brandBasketLift(fact, part)
          .collect().map(r => (r.getString(0), r.getString(1),
            r.getLong(3), r.getLong(4))).toSeq
        (out, out.size)
      }
      (rows, f"""{"corpus":"$label","top_pairs":$nPairs,"basket_sec":$t%.2f}""")
    }
    val (r1, s1) = run("basket-1x", li)
    val (r10, s10) = run("basket-10x", li10)
    require(r1 == r10,
      "basket lift must be invariant under uniform x10 replication")
    Seq(s1, s10)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus)
    try probe(spark, args) finally GraftSession.stop(spark)
  }

  private def probe(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_SCALE_SHARDS widens the document synthesis (default 10 =
    // one decade; 100 = two decades) — the ANN/streaming probes stay at the
    // decade, where their state dimensions are already the story
    val nShards = sys.env.getOrElse("SPARK_GRAFT_SCALE_SHARDS", "10").toInt
    // materialize a scaled corpus to parquet so every op reads it the way it
    // reads the sf corpus (scan-rooted plans, no recompute of synth)
    def persisted(name: String, synth: DataFrame): DataFrame = {
      synth.write.mode("overwrite").parquet(scratch(name))
      spark.read.parquet(scratch(name))
    }
    args.headOption match {
      // optional section arg: "keys" runs ONLY the key-cardinality stress
      // (the cheap new-axis probe, re-runnable without the decade suite)
      case Some("keys") =>
        val ev1 = EventStream.withEventTime(spark.read.parquet(s"$sfDir/events.parquet"))
        println(profileKeyCardinality(spark, "keys-1x", ev1))
        println(profileKeyCardinality(spark, "keys-10x", synthesizeKeyRich(ev1)))

      // optional section arg: "classifier" runs ONLY the classifier /
      // weighted-sample scaling probe (1× vs SPARK_GRAFT_SCALE_SHARDS×
      // documents, default a decade)
      case Some("classifier") =>
        val organicC = spark.read.parquet(s"$sfDir/documents.parquet")
        val decadeC = persisted("decade-cls/documents", synthesizeDecade(organicC, nShards))
        println(profileClassifier("cls-1x", organicC))
        println(profileClassifier(s"cls-${nShards}x", decadeC))

      // optional section arg: "dsir" runs ONLY the DSIR selection probe —
      // 1× vs 10× documents, the synthetic vocabulary growing with the
      // corpus (decade tokens are shard-suffixed), lang re-attached
      // deterministically at both scales so the target slice is the same
      // SHARE of each corpus
      case Some("dsir") =>
        def withLang(df: DataFrame): DataFrame = df
          .select(col("doc_id"), col("text"))
          .withColumn("lang",
            element_at(typedLit(Seq("en", "de", "es", "fr", "zh")),
              pmod(col("doc_id"), lit(5L)).cast("int") + 1))
        val organicD = withLang(spark.read.parquet(s"$sfDir/documents.parquet"))
        val decadeD = persisted("decade-dsir/documents",
          withLang(synthesizeDecade(spark.read.parquet(s"$sfDir/documents.parquet"), 10)))
        // warm-up: JIT/codegen for the whole chain before timing
        Pipeline.dsirTopK(organicD, organicD.where(col("lang") === "en"), 50).count()
        println(profileDsir("dsir-1x", organicD))
        println(profileDsir("dsir-10x", decadeD))

      // optional section arg: "cooc" runs ONLY the co-occurrence probe —
      // 1× vs 10× USERS (the decade event synthesis strides user ids with
      // items fixed), the axis the per-user cap must keep linear
      case Some("cooc") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-cooc/events", synthesizeDecadeEvents(ev1))
        graft.operators.EventAnalytics.itemNeighbors(ev1,
          regexp_extract(col("props"), "(\\d+)", 1)).count() // warm-up
        println(profileCooc("cooc-1x", ev1))
        println(profileCooc("cooc-10x", ev10))

      // optional section arg: "graph" runs ONLY the PageRank probe — the
      // two claims that make the operator 100 TB-shaped: the edge table is
      // BOUNDED by distinct-items² however many users feed it (10× users,
      // items fixed → edges saturate, never grow 10×), and doubling the
      // supersteps costs ~2× wall (edges persisted once; each superstep
      // one co-partitioned join + aggregate, no per-iteration rebuild)
      case Some("graph") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-graph/events", synthesizeDecadeEvents(ev1))
        graft.operators.Graph.pageRank(
          graft.operators.Graph.coviewEdges(ev1,
            regexp_extract(col("props"), "(\\d+)", 1)), iters = 2).count() // warm-up
        println(profileGraph("graph-1x", ev1))
        println(profileGraph("graph-10x", ev10))

      // optional section arg: "pack" runs ONLY the p22 FFD probe — 10×
      // documents on both shard axes (fixed = worst case, scaled = design)
      case Some("pack") =>
        val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
        val docs10 = persisted("decade-pack/documents", synthesizeDecade(docs1, 10))
        graft.operators.Pipeline.packFirstFitDecreasing(docs1).count() // warm-up
        println(profilePack("pack-1x", docs1, 32))
        println(profilePack("pack-10x-fixed-shards", docs10, 32))
        println(profilePack("pack-10x-scaled-shards", docs10, 320))

      // optional section arg: "comm" runs ONLY the g6 community probe on
      // the disjoint-copies axis (communities must scale exactly 10×, the
      // superstep count must not grow)
      case Some("comm") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-comm/events", synthesizeDecadeGraphEvents(ev1))
        println(profileComm("comm-1x", ev1))
        println(profileComm("comm-10x", ev10))

      // optional section arg: "sssp" runs ONLY the g9 probe on the
      // disjoint-copies axis (reached set and distances must be IDENTICAL
      // at 10× edges — seeds live in copy 0 only; supersteps constant)
      case Some("sssp") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-sssp/events", synthesizeDecadeGraphEvents(ev1))
        println(profileSssp("sssp-1x", ev1))
        println(profileSssp("sssp-10x", ev10))

      // g11 on ten disjoint copies: membership exactly 10x, rounds constant
      case Some("kcore") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-kcore/events", synthesizeDecadeGraphEvents(ev1))
        println(profileKcore("kcore-1x", ev1))
        println(profileKcore("kcore-10x", ev10))

      // g10 on ten disjoint copies: global-max normalization is per-copy
      // invariant — the authority table replicates exactly; iters constant
      case Some("hits") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-hits/events", synthesizeDecadeGraphEvents(ev1))
        println(profileHits("hits-1x", ev1))
        println(profileHits("hits-10x", ev10))

      // t31 on the shard-suffixed decade: type tables grow ~10×, copies of
      // a doc must score identical xent3 (KN is vocab-permutation-invariant)
      case Some("kn") =>
        val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val stride = 1L + docs1.agg(max("doc_id")).head.getLong(0)
        val docs10 = persisted("decade-kn/documents", synthesizeDecade(docs1, 10))
        TextAnalysis.trigramLmKN(docs1.limit(50)).count() // warm-up JIT/codegen
        println(profileKn("kn-1x", docs1, stride))
        println(profileKn("kn-10x", docs10, stride))

      // o35 on ten disjoint order copies: report values replication-invariant
      case Some("basket") =>
        profileBasket(spark.read.parquet(s"$sfDir/lineitem.parquet"),
          spark.read.parquet(s"$sfDir/part.parquet")).foreach(println)

      case Some("tri") =>
        val ev1 = spark.read.parquet(s"$sfDir/events.parquet")
        val ev10 = persisted("decade-tri/events", synthesizeDecadeGraphEvents(ev1))
        graft.operators.Graph.triangleStats(
          graft.operators.Graph.coviewEdges(ev1,
            regexp_extract(col("props"), "(\\d+)", 1))).count() // warm-up
        println(profileTri("tri-1x", ev1))
        println(profileTri("tri-10x", ev10))

      // optional section arg: "search" runs ONLY the phrase/BM25 scoring
      // probe — 1× vs 10× documents mapped to (id, dataSample), including
      // the kernel-vs-interpreted-HOF wall comparison
      case Some("search") =>
        def asEntries(df: DataFrame): DataFrame = df
          .select(col("doc_id").cast("string").as("id"), col("text").as("dataSample"))
        val organicS = spark.read.parquet(s"$sfDir/documents.parquet")
        val decadeS = persisted("decade-search/documents", synthesizeDecade(organicS, 10))
        // warm-up: JIT/codegen for both paths
        graft.exec.SearchExecutor.phraseSearch(asEntries(organicS), "table hash").count()
        println(profileSearch("search-1x", asEntries(organicS)))
        println(profileSearch("search-10x", asEntries(decadeS)))

      // optional section arg: "history" runs ONLY the persisted-SCD2
      // refresh stress — same change window, 10× history rows, bucket
      // count scaled so per-bucket bytes hold constant
      case Some("history") =>
        val ordH = spark.read.parquet(s"$sfDir/orders.parquet")
        val (_, ordH10) = synthesizeDecadeFacts(
          spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1), ordH)
        println(profileHistoryRefresh(spark, "hist-1x", ordH, nBuckets = 32))
        println(profileHistoryRefresh(spark, "hist-10x", ordH10, nBuckets = 320))

      // optional section arg: "takedown" runs ONLY the delivered-corpus
      // purge stress — same 3-id batch + same source revocation at 1× and
      // 10× corpus rows, shard count scaled with the data
      case Some("takedown") =>
        // the decade synthesis keeps (doc_id, text) only — attach the SAME
        // deterministic source at both scales so the predicate arm revokes
        // the same 1/3 SHARE and its wall comparison is share-for-share
        def withSrc(df: DataFrame): DataFrame = df
          .select(col("doc_id"), col("text"))
          .withColumn("source",
            concat(lit("src"), pmod(col("doc_id"), lit(3L)).cast("string")))
        val organicT = withSrc(spark.read.parquet(s"$sfDir/documents.parquet"))
        val decadeT = persisted("decade-takedown/documents",
          withSrc(synthesizeDecade(spark.read.parquet(s"$sfDir/documents.parquet"), 10)))
        println(profileTakedown(spark, "take-1x", organicT, shards = 32))
        println(profileTakedown(spark, "take-10x", decadeT, shards = 320))

      // optional section arg: "view" runs ONLY the persisted-view refresh
      // stress — same change window, 10× view rows, bucket count scaled so
      // per-bucket bytes hold constant
      case Some("view") =>
        val ordV = spark.read.parquet(s"$sfDir/orders.parquet")
        val custV = spark.read.parquet(s"$sfDir/customer.parquet")
        val (_, ord10) = synthesizeDecadeFacts(
          spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1), ordV)
        println(profileViewRefresh(spark, "view-1x", ordV, custV, nBuckets = 32))
        println(profileViewRefresh(spark, "view-10x", ord10, custV, nBuckets = 320))

      case _ =>
        val organic = spark.read.parquet(s"$sfDir/documents.parquet")
        val decade = persisted("decade/documents", synthesizeDecade(organic, nShards))

        // warm-up: JIT/codegen on the small corpus
        Dedup.jaccardPairs(organic).count()
        println(profile("sf0.1", organic))
        println(profile(s"sf0.1x$nShards", decade))

        // trainer-facing shard export at 1× and 10×
        println(profileExport(spark, "export-1x", organic))
        println(profileExport(spark, "export-10x", decade))

        // ANN index path at 1× and 10× (probe pruning must hold at scale)
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val emb10 = persisted("decade-emb/embeddings", synthesizeDecadeEmb(emb))
        println(profileAnn(spark, "emb-1x", emb))
        println(profileAnn(spark, "emb-10x", emb10))
        // deletion lifecycle: tombstone + masked read + touched-cell compaction
        println(profileDelete(spark, "del-1x", emb))
        println(profileDelete(spark, "del-10x", emb10))
        // cross-corpus cell join: candidates per A-row bounded by occupancy
        println(profileCross("cross-1x", emb))
        println(profileCross("cross-10x", emb10))
        // like-for-like compression baselines: the 1x raw copy carries exactly
        // the columns the index is built from (the source table's extra label
        // column would inflate the denominator)
        val rawDir1x = scratch("raw-emb/embeddings")
        emb.write.mode("overwrite").parquet(rawDir1x)
        println(profileIvfPq(spark, "ivfpq-1x", emb, rawDir1x))
        println(profileIvfPq(spark, "ivfpq-10x", emb10, scratch("decade-emb/embeddings")))

        // relational OLAP at 1× and 10× fact rows (dims stay 1×)
        val li1 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val ord1 = spark.read.parquet(s"$sfDir/orders.parquet")
        val cust1 = spark.read.parquet(s"$sfDir/customer.parquet")
        val nat1 = spark.read.parquet(s"$sfDir/nation.parquet")
        val (li10raw, ord10raw) = synthesizeDecadeFacts(li1, ord1)
        val li10 = persisted("decade-li/lineitem", li10raw)
        val ord10 = persisted("decade-ord/orders", ord10raw)
        val sup1 = spark.read.parquet(s"$sfDir/supplier.parquet")
        val reg1 = spark.read.parquet(s"$sfDir/region.parquet")
        println(profileOlap("olap-1x", li1, ord1, cust1, nat1, sup1, reg1))
        println(profileOlap("olap-10x",
          li10, ord10, cust1, nat1, sup1, reg1))

        // streaming backfills at 1× and 10× users/events
        val evDir = scratch("decade-ev/events")
        synthesizeDecadeEvents(spark.read.parquet(s"$sfDir/events.parquet"))
          .write.mode("overwrite").parquet(evDir)
        println(profileStream(spark, "events-1x", s"$sfDir/events.parquet"))
        println(profileStream(spark, "events-10x", evDir))

        // storage-layout pruning at 1× and 10× (overlap fractions must hold)
        println(profileLayout(spark, "layout-1x", spark.read.parquet(s"$sfDir/events.parquet")))
        println(profileLayout(spark, "layout-10x", spark.read.parquet(evDir)))

        // quality audits, sketch rollups and snapshot diff at 1× and 10×:
        // folds/audits grow linearly, range queries must stay flat
        println(profileQuality(spark, "quality-1x",
          EventStream.withEventTime(spark.read.parquet(s"$sfDir/events.parquet")), organic))
        println(profileQuality(spark, "quality-10x",
          EventStream.withEventTime(spark.read.parquet(evDir)), decade))

        // key-cardinality stress: rows HELD, distinct keys ×10 — the axis the
        // decade tables don't cover (the round-11 c4 straggler axis)
        val ev1 = EventStream.withEventTime(spark.read.parquet(s"$sfDir/events.parquet"))
        println(profileKeyCardinality(spark, "keys-1x", ev1))
        println(profileKeyCardinality(spark, "keys-10x", synthesizeKeyRich(ev1)))
    }
  }
}
