package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan shape assertions for the scale-critical queries: these
  * pin the 100 TB posture (equi-joins, broadcasts, no nested-loop pair
  * joins), not just result correctness. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("t10 chunking: narrow explode — no join; only the presentation sort exchanges") {
    val plan = planOf("t10_chunk_overlap")
    assert(!plan.contains("Join"), s"chunking must not join:\n$plan")
    // The op itself is a projection + explode; the single allowed
    // Exchange is the ORDER BY's range partitioning for the oracle dump.
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"only the presentation sort may shuffle:\n${exchanges.mkString("\n")}")
    // Coverage invariants at sf0.001: windows tile every token stream —
    // per doc, chunk_idx is dense from 0 and the last window reaches
    // the final token (chunk_idx*stride + width >= n_tokens).
    val rows = graft.SparkEntry.queries("t10_chunk_overlap")(spark, dir)
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr("max(chunk_idx) AS mi"),
        org.apache.spark.sql.functions.expr("count(*) AS c"))
      .collect()
    assert(rows.nonEmpty)
    val nTok = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "size(split(text, ' ')) AS n")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (id, mi, c) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(c == mi + 1, s"doc $id: sparse chunk_idx")
      assert(mi * 12 + 16 >= nTok(id), s"doc $id: tail tokens uncovered")
    }
  }

  test("c13 leakproof split: map-only scan — no join, no aggregate, sort-only exchange") {
    val plan = planOf("c13_leakproof_split")
    assert(!plan.contains("Join"), s"split must not join:\n$plan")
    assert(!plan.contains("HashAggregate"), s"split must not aggregate:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"only the presentation sort may shuffle:\n${exchanges.mkString("\n")}")
    // The leakproof property itself: byte-identical texts share a split.
    val leaks = graft.SparkEntry.queries("c13_leakproof_split")(spark, dir)
      .join(spark.read.parquet(s"$dir/documents.parquet"), "doc_id")
      .groupBy(org.apache.spark.sql.functions.expr("md5(lower(trim(text)))"))
      .agg(org.apache.spark.sql.functions.countDistinct("split").as("n_splits"))
      .filter("n_splits > 1").count()
    assert(leaks == 0, s"$leaks duplicate groups straddle splits")
  }

  test("d06 banded simhash: equi-join on band values, no quadratic join") {
    val plan = planOf("d06_simhash_neardup_pairs")
    assert(!plan.contains("CartesianProduct"),
      "banded candidate generation must not cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "banded candidate generation must not nested-loop-join")
  }

  test("e08 k-means: centroids broadcast; assignment aggregates partially") {
    val plan = planOf("e08_kmeans")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "centroid join must broadcast the 8-row side")
    assert(plan.contains("partial_min") || plan.contains("partial"),
      "argmin must aggregate map-side before the shuffle")
  }

  test("concat/coarsen/anomaly chunk plans add no shuffle") {
    import graft.api.XbeamDataset
    import graft.Fixtures
    def xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4))
    def plan(ds: graft.api.XbeamDataset): String =
      ds.chunkDataset.queryExecution.executedPlan.toString
    // concat: shifted-key union of two scans — pure key arithmetic
    val cat = plan(xds.head("time", 8).concat(xds.tail("time", 4), "time"))
    assert(!cat.contains("Exchange"), s"concat must not shuffle:\n$cat")
    // concatNew (ensemble stacking): metadata rewrite + union only
    val cn = plan(XbeamDataset.concatNew("run", Seq(xds, xds, xds)))
    assert(!cn.contains("Exchange"), s"concatNew must not shuffle:\n$cn")
    // coarsen: chunk-local block means
    val co = plan(xds.coarsen(Map("time" -> 2)))
    assert(!co.contains("Exchange"), s"coarsen must not shuffle:\n$co")
    // anomaly: the mean reduces in its own (collected) job; the main
    // dataset maps against the broadcast result without reshuffling
    val an = plan(xds.anomaly(Set("time")))
    assert(!an.contains("Exchange"),
      s"anomaly must not reshuffle the full dataset:\n$an")
  }

  test("short-lane cumsum/ffill fuse into a single exchange") {
    import graft.api.XbeamDataset
    import graft.Fixtures
    def xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4))
    def exchanges(ds: graft.api.XbeamDataset): Int =
      "(?<!Reused)Exchange".r
        .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size
    // the fused short-lane path: one repartition of chunk bodies on the
    // lane key — no separate sliver shuffle, no prefix rejoin shuffle
    assert(exchanges(xds.cumsum("time")) == 1,
      "short-lane cumsum must shuffle exactly once")
    assert(exchanges(xds.ffill("time")) == 1,
      "short-lane ffill must shuffle exactly once")
    assert(exchanges(xds.ffill("time", limit = 2)) == 1,
      "short-lane limited fill must shuffle exactly once")
    // the round-10 scan family keeps the same contract
    assert(exchanges(xds.cumprod("time")) == 1,
      "short-lane cumprod must shuffle exactly once")
    assert(exchanges(xds.ewm("time", 0.5)) == 1,
      "short-lane ewm must shuffle exactly once")
    assert(exchanges(xds.cumminmax("time")) == 1,
      "fused cumminmax must shuffle exactly once")
    // roll is wrap-split + ONE consolidation; negative shift is the
    // same single halo exchange as positive
    assert(exchanges(xds.roll("time", 3)) == 1,
      "roll must shuffle exactly once")
    assert(exchanges(xds.shift("time", -2)) == 1,
      "negative shift must shuffle exactly once")
    assert(exchanges(xds.pad("time", 3, 2)) == 1,
      "pad must shuffle exactly once")
    assert(exchanges(xds.pad("time", 3, 2, mode = "edge")) == 1,
      "edge pad must shuffle exactly once")
    assert(exchanges(xds.pad("time", 3, 2, mode = "reflect")) == 1,
      "reflect pad must shuffle exactly once")
    assert(exchanges(xds.rolling("time", 3, "mean", center = true)) == 1,
      "centered rolling must shuffle exactly once")
    // convolve rides the same halo exchange as rolling — never the
    // w-times construct materialization plus a join
    assert(exchanges(xds.convolve("time", Array(0.25, 0.5, 0.25))) == 1,
      "convolve must shuffle exactly once (the halo sliver exchange)")
    // astype and the fullLike family are chunk-local
    assert(exchanges(xds.astype(graft.ndarray.DType.F32)) == 0,
      "astype must not shuffle")
    assert(exchanges(xds.zerosLike) == 0, "zerosLike must not shuffle")
    // any/all reduce like sum: partials + one keyed shuffle
    assert(exchanges(xds.any(Set("time"))) == 1,
      "any must shuffle partials exactly once")
  }

  test("broadcast-seeded staged scans add no exchange at all") {
    import graft.api.XbeamDataset
    import graft.Fixtures
    import graft.TestSpark.withConf
    // a 1-byte advisory size: no lane fits one task, and the default
    // broadcast bound takes the seeds, so the prefix seeds collect +
    // broadcast and the chunk plan is a narrow map over the source —
    // zero shuffles (the sliver collect runs as its own tiny job at
    // plan time)
    def xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4))
    def exchanges(ds: graft.api.XbeamDataset): Int =
      "(?<!Reused)Exchange".r
        .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size
    val ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val BROADCAST = "spark.sql.autoBroadcastJoinThreshold"
    withConf(ADVISORY -> "1") {
      assert(exchanges(xds.cumsum("time")) == 0,
        "broadcast-staged cumsum must not shuffle chunk bodies")
      assert(exchanges(xds.ffill("time", limit = 2)) == 0,
        "broadcast-staged limited fill must not shuffle chunk bodies")
      assert(exchanges(xds.ewm("time", 0.5)) == 0,
        "broadcast-staged ewm must not shuffle chunk bodies")
      assert(exchanges(xds.cumminmax("time")) == 0,
        "broadcast-staged cumminmax must not shuffle chunk bodies")
      assert(exchanges(xds.cumprod("time")) == 0,
        "broadcast-staged cumprod must not shuffle chunk bodies")
      assert(exchanges(xds.interpolateNa("time")) == 0,
        "broadcast-staged interpolate_na must not shuffle chunk bodies")
    }
    // broadcast disabled: seeds may not be broadcast, so the scans run
    // fused — one shuffle, and interpolateNa's two fused scans two
    withConf(ADVISORY -> "1", BROADCAST -> "-1") {
      assert(exchanges(xds.cumsum("time")) == 1,
        "cumsum without broadcast must run one fused scan")
      assert(exchanges(xds.interpolateNa("time")) == 2,
        "interpolate_na without broadcast must run two fused scans")
    }
  }

  test("corr/cov/dot/weighted reductions shuffle partials exactly once") {
    import graft.api.XbeamDataset
    import graft.Fixtures
    import graft.ndarray.{DType, NdArray}
    def xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4))
    def exchanges(ds: graft.api.XbeamDataset): Int =
      "(?<!Reused)Exchange".r
        .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size
    // six-moment partials ride the one keyed shuffle; chunk bodies never
    // move (the partial is the map side of the same exchange)
    assert(exchanges(xds.corr("temperature", "precip", Set("time"))) == 1,
      "corr must shuffle exactly once")
    assert(exchanges(xds.cov("temperature", "precip", Set("time"))) == 1,
      "cov must shuffle exactly once")
    assert(exchanges(xds.dot("temperature", "precip", Set("time"))) == 1,
      "dot must shuffle exactly once")
    val w = Map("time" -> NdArray.fill(DType.F64, Array(12), 1.0))
    assert(exchanges(xds.weightedSum(Set("time"), w)) == 1,
      "weightedSum must shuffle exactly once")
    assert(exchanges(xds.weightedStd(Set("time"), w)) == 1,
      "weightedStd must shuffle exactly once")
    // wrap pad keeps the pad family's single consolidation
    assert(exchanges(xds.pad("time", 2, 2, mode = "wrap")) == 1,
      "wrap pad must shuffle exactly once")
    // weighted trend rides trend's one-shuffle moment accumulator;
    // weighted quantile rides quantile's one cell consolidation
    assert(exchanges(xds.weightedTrend("time",
      NdArray.fill(DType.F64, Array(12), 1.0))) == 1,
      "weightedTrend must shuffle exactly once")
    assert(exchanges(xds.weightedQuantile(0.5, Set("time"), w)) == 1,
      "weightedQuantile must shuffle exactly once")
    // weighted polyfit: the same 3deg+2(+count)-plane single shuffle
    assert(exchanges(xds.weightedPolyfit("time", 2,
      NdArray.fill(DType.F64, Array(12), 1.0))) == 1,
      "weightedPolyfit must shuffle exactly once")
    // fancy isel is the bounded position gather — one exchange, and
    // NEVER a global sort (no range partitioning)
    val fancy = xds.isel("time", Array(7L, 7L, 2L, 0L))
    assert(exchanges(fancy) == 1, "isel must shuffle exactly once")
    assert(!fancy.chunkDataset.queryExecution.executedPlan.toString
      .contains("rangepartitioning"),
      "isel must not range-partition (no global sort)")
    // resample median: the groupbyCoord order-statistic core's ONE
    // (chunk, group)-keyed shuffle after the plan-time coord rewrite
    val tcoord = NdArray.fromLongs(graft.ndarray.DType.TimeNs, Array(12),
      Array.tabulate(12)(i => 1577836800000000000L +
        i * 25L * 3600 * 1000000000L))
    assert(exchanges(xds.assignCoords("time", tcoord)
      .resampleMedian("time", "week")) == 1,
      "resampleMedian must shuffle exactly once")
  }

  test("sortby lowers to the reindex gather — one exchange, no global sort") {
    import graft.api.XbeamDataset
    import graft.ndarray.{DType, NdArray}
    val vals = NdArray.fromDoubles(DType.F64, Array(8, 2),
      Array.tabulate(16)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)),
      coords = Map("t" -> NdArray.fromDoubles(DType.F64, Array(8),
        Array.tabulate(8)(_.toDouble))),
      chunks = Map("t" -> 4))
    val plan = ds.sortby("t", descending = true)
      .chunkDataset.queryExecution.executedPlan.toString
    val ex = "(?<!Reused)Exchange".r.findAllIn(plan).size
    assert(ex == 1, s"sortby must gather in one co-partitioned shuffle:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"sortby must not range-partition (global sort):\n$plan")
  }

  test("rename/expandDims/squeeze/zscore chunk plans add no shuffle") {
    import graft.api.XbeamDataset
    import graft.Fixtures
    def xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4))
    def plan(ds: graft.api.XbeamDataset): String =
      ds.chunkDataset.queryExecution.executedPlan.toString
    val rn = plan(xds.rename(Map("time" -> "t")).expandDims("member")
      .squeeze("member"))
    assert(!rn.contains("Exchange"),
      s"relabel/reshape ops must not shuffle:\n$rn")
    // zscore: mean and std reduce in their own (collected) jobs; the
    // full dataset maps against the broadcasts without reshuffling
    val z = plan(xds.zscore(Set("time")))
    assert(!z.contains("Exchange"),
      s"zscore must not reshuffle the full dataset:\n$z")
  }

  test("e05 IVF: assignment is a map-side agg; no window over the full embedding set") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.SparkEntry.queries("e05_ivf_ann")(spark, dir)
      .queryExecution.sparkPlan
    val s = plan.toString
    // member assignment must combine map-side (min(struct(-score, cent)))
    // — 1 row per vector reaches the exchange, never a sort of 8N rows
    assert(s.contains("partial_min"),
      s"e05 assignment must map-side combine before its exchange:\n$s")
    // every remaining window runs over a probe-bounded set: either
    // partitioned by q_id (candidate top-k) or fed by the vec_id < 10
    // probe filter — NEVER over the full embedding set
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "e05 should rank probes/candidates via windows")
    windows.foreach { w =>
      val keys = w.partitionSpec.map(_.sql).mkString(",")
      val sub = w.child.toString
      assert(keys.contains("q_id") ||
        sub.contains("LessThan(vec_id,10)") ||
        "vec_id#\\d+L? < 10".r.findFirstIn(sub).isDefined,
        s"e05 window over [$keys] is not probe-bounded:\n$sub")
    }
  }

  test("c09 percentile filter: document text never shuffles; thresholds broadcast") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = graft.SparkEntry.queries("c09_quality_percentile_filter")(spark, dir)
      .queryExecution.sparkPlan
    // the sketch moves (lang, bin) counts and per-language thresholds;
    // raw document text must never cross an exchange at any scale
    val bad = plan.collect {
      case e: ShuffleExchangeExec
        if e.output.exists(a => a.name == "text" || a.name == "ws") => e.nodeName
    }
    assert(bad.isEmpty, s"document text crossed an exchange: $bad")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin"),
      "bounds/threshold application must broadcast, not shuffle the docs")
    assert(s.contains("partial_count"),
      "(lang, bin) histogram counts must combine map-side")
  }

  test("approxQuantile chunk plan: one keyed exchange (same as mean), no windows") {
    import graft.api.XbeamDataset
    import graft.Fixtures
    def xds = XbeamDataset.fromLocal(spark, Fixtures.era5(),
      chunks = Map("time" -> 4))
    def plan(ds: XbeamDataset): String =
      ds.chunkDataset.queryExecution.executedPlan.toString
    def exchanges(p: String): Int = "(?<!Reused)Exchange".r.findAllIn(p).size
    // the bounds pass reduces in its own (collected-and-broadcast) job,
    // so the remaining plan carries exactly the histogram reduce — the
    // same single keyed exchange a mean costs; per-cell payload is
    // O(bins), never the reduced extent, and no window sorts anything
    val mean = exchanges(plan(xds.mean(Set("time"))))
    val aq = plan(xds.approxQuantile(0.5, Set("time"), bins = 32))
    assert(exchanges(aq) == mean,
      s"approxQuantile must match mean's single keyed exchange:\n$aq")
    assert(!aq.contains("Window"), s"approxQuantile must not window:\n$aq")
    // multi-q shares the same plan shape
    val aqm = plan(xds.approxQuantiles(Seq(0.25, 0.75), Set("time"), bins = 32))
    assert(exchanges(aqm) == mean,
      s"approxQuantiles must match mean's single keyed exchange:\n$aqm")
  }

  test("d09 span removal join is never a cross join") {
    val plan = planOf("d09_dedup_repeated_spans")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the recurring-span removal join must be an equi-join")
  }

  test("c05 packing cumsum windows partition by shard (no global sort)") {
    val plan = planOf("c05_pack_sequences")
    assert(plan.contains("hashpartitioning(shard"),
      s"the running sum must partition by shard:\n$plan")
  }

  test("q02 filter pushdown reaches the parquet scan") {
    val plan = planOf("q02_filter_pushdown")
    assert(plan.contains("PushedFilters: [") &&
      plan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)].*", "$1").nonEmpty,
      "dim predicates must reach the parquet reader")
  }

  test("d02/d03/d04: candidate ids dedup BEFORE any array payload moves") {
    // The near-dup family's 100 TB posture is structural: the inverted
    // index / band self-join and its distinct ship (id, key) scalars
    // only; the array payloads (shingle/word hash sets) join strictly
    // AFTER the distinct. Reordering a payload join below the distinct
    // — or degrading the pair join to a cross join — is the regression
    // this pins, which wall-time jitter alone could hide.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.types.ArrayType
    for (q <- Seq("d02_dedup_word_jaccard", "d03_dedup_shingle_jaccard",
        "d04_minhash_lsh_candidates")) {
      val plan = graft.SparkEntry.queries(q)(spark, dir)
        .queryExecution.sparkPlan
      val s = plan.toString
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate generation must stay an equi-join")
      // d02/d04 dedup candidates with a distinct (no agg exprs); d03
      // counts intersections directly — either way the chokepoint is
      // the topmost aggregate grouped on the candidate id pair
      val agg = plan.collectFirst {
        case a: BaseAggregateExec
          if Set("id_a", "id_b").subsetOf(a.output.map(_.name).toSet) => a
      }.getOrElse(fail(s"$q: no aggregate producing (id_a, id_b)"))
      val arrayExchanges = agg.collect {
        case e: ShuffleExchangeExec
          if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e.nodeName
        case e: BroadcastExchangeExec
          if e.output.exists(_.dataType.isInstanceOf[ArrayType]) => e.nodeName
      }
      assert(arrayExchanges.isEmpty,
        s"$q: an exchange below the candidate distinct carries an array " +
          s"payload: $arrayExchanges")
    }
  }

  test("x120 determinism stress: repeated runs across partition counts") {
    // round-14's one red driver row was x120 (hash mismatch on
    // rows/schema-green output, root-caused to the F64 retype in the
    // gather — fixed). This pins the other suspect class: the full
    // gate pipeline (store write -> read-back -> position gather ->
    // tabular dump) must be value-identical under repetition and under
    // different shuffle-partition counts.
    def run(): Seq[String] =
      graft.SparkEntry.queries("x120_drop_duplicates")(spark, dir)
        .collect().map(_.toString).toSeq
    val baseline = run()
    assert(baseline.nonEmpty)
    for (parts <- Seq("3", "7", "32"); rep <- 1 to 2) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try assert(run() == baseline, s"parts=$parts rep=$rep diverged")
      finally spark.conf.set("spark.sql.shuffle.partitions", "32")
    }
  }

  test("e09 hot-cell salting: forced-low cap gives identical duplicates") {
    // The adaptive block-pair decomposition must be invisible in the
    // results: force EVERY cell through the salted path (cap 4) and
    // require row-identical output to the default (cap 4096 — no cell
    // salted at this scale). Also pin the structural posture: the
    // within-cell join stays an equi-join either way.
    def rows() = graft.SparkEntry.queries("e09_semdedup")(spark, dir)
      .collect().map(_.toString).toSeq
    val plain = rows()
    spark.conf.set("spark.graft.semdedup.cellCap", "4")
    try {
      val salted = graft.SparkEntry.queries("e09_semdedup")(spark, dir)
      val s = salted.queryExecution.executedPlan.toString
      // centroid scoring is a deliberate broadcast NLJ (vectors x
      // broadcast centroids); the within-cell pair join must not be —
      // it joins on (cell_id, pk), so no cartesian anywhere
      assert(!s.contains("CartesianProduct"),
        "salted within-cell join must stay an equi-join")
      assert(salted.collect().map(_.toString).toSeq == plain,
        "salted and plain within-cell joins must give identical results")
    } finally spark.conf.unset("spark.graft.semdedup.cellCap")
  }

  test("e19 dedup-then-index: only e09 survivors reach the serving index") {
    // The composed pipeline's contract: the ANN index is built over the
    // SemDeDup survivor set — no duplicate id may appear on either side
    // of a neighbor pair — and the per-vector result keeps the e18
    // shape (ranks 1..k, cosines non-increasing, no self-pairs).
    val sem = graft.SparkEntry.queries("e09_semdedup")(spark, dir).collect()
    val survivors = sem.filter(_.isNullAt(2)).map(_.getLong(0)).toSet
    assert(survivors.nonEmpty && survivors.size < sem.length,
      "fixture must contain both survivors and duplicates")
    val idx = graft.SparkEntry.queries("e19_dedup_then_index")(spark, dir)
    val p = idx.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "the survivor bucket join must stay an equi-join")
    val rows = idx.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(survivors(r.getLong(0)) && survivors(r.getLong(1)),
        s"non-survivor id in the serving index: $r")
      assert(r.getLong(0) != r.getLong(1), s"self-pair: $r")
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"q=$q ranks $ranks")
      val cos = rs.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(cos == cos.sorted.reverse, s"q=$q cosines not descending")
    }
  }

  test("e05 two-stage top-k: salted pre-rank keeps the exact top-3") {
    // the salted stage must never change results — compare against the
    // oracle-shaped invariant: ranks are 1..3 per query, cosines
    // non-increasing, and the pre-rank stage admits every survivor
    val df = graft.SparkEntry.queries("e05_ivf_ann")(spark, dir).collect()
    val byQ = df.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(2)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"q=$q ranks $ranks")
      val cos = rs.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq
      assert(cos == cos.sorted.reverse, s"q=$q cosines not descending")
    }
  }

  test("rollingCorr/ewmVar add no exchange over their base ops; method reindex matches exact") {
    import graft.api.XbeamDataset
    import graft.ndarray.{DType, NdArray}
    def exchanges(ds: XbeamDataset): Int =
      "(?<!Reused)Exchange".r
        .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size
    val vals = NdArray.fromDoubles(DType.F64, Array(8, 2),
      Array.tabulate(16)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark, Map(
      "a" -> (Seq("t", "x"), vals),
      "b" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 4))
    // the six moments ride the SAME halo exchange a plain rolling uses —
    // the derivation and the closed-form fold are narrow maps
    val base = exchanges(ds.rolling("t", 3, "sum"))
    assert(exchanges(ds.rollingCorr("t", 3, "a", "b")) == base,
      "rollingCorr must not add exchanges over rolling")
    assert(exchanges(ds.rollingCov("t", 3, "a", "b")) == base,
      "rollingCov must not add exchanges over rolling")
    // curvefit rides the SAME cell-consolidation shuffle as the exact
    // order statistics — the iterative solve is cell-local
    assert(exchanges(ds.curvefitExp("t")) ==
      exchanges(ds.median(Set("t"))),
      "curvefitExp must match median's cell-consolidation plan shape")
    assert(exchanges(ds.curvefitLogistic("t")) ==
      exchanges(ds.median(Set("t"))),
      "curvefitLogistic must match median's cell-consolidation plan shape")
    assert(exchanges(ds.curvefitGaussian("t")) ==
      exchanges(ds.median(Set("t"))),
      "curvefitGaussian must match median's cell-consolidation plan shape")
    // rollingNd mean/var/std: the moment planes ride the SAME per-dim
    // halo exchanges the separable sum uses — plane derivation and the
    // closed-form fold are narrow maps, never extra shuffles
    val nd2 = exchanges(ds.rollingNd(Map("t" -> 3, "x" -> 2), "sum"))
    assert(exchanges(ds.rollingNd(Map("t" -> 3, "x" -> 2), "mean")) == nd2,
      "rollingNd mean must not add exchanges over the separable sum")
    assert(exchanges(ds.rollingNd(Map("t" -> 3, "x" -> 2), "std")) == nd2,
      "rollingNd std must not add exchanges over the separable sum")
    // both ewm moments ride ONE scan
    val ewmBase = exchanges(ds.ewm("t", 0.5))
    assert(exchanges(ds.ewmVar("t", 0.5)) == ewmBase,
      "ewmVar must not add exchanges over ewm")
    // method fills resolve plan-time: same gather as exact reindex
    val coord = NdArray.fromDoubles(DType.F64, Array(8),
      Array.tabulate(8)(_.toDouble))
    val dsc = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    val exact = exchanges(dsc.reindex("t", Array(0.0, 3.0, 6.0)))
    assert(exchanges(dsc.reindex("t", Array(0.2, 3.4, 6.7), "nearest")) == exact,
      "nearest reindex must match exact reindex's plan shape")
    assert(exchanges(dsc.reindex("t", Array(0.2, 3.4, 6.7), "ffill", 2.0)) == exact,
      "ffill reindex must match exact reindex's plan shape")
  }

  test("truncate/trim-coarsen add no shuffle; merge and whereDs zip exactly once") {
    import graft.api.XbeamDataset
    import graft.ndarray.{DType, NdArray}
    def exchanges(ds: XbeamDataset): Int =
      "(?<!Reused)Exchange".r
        .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size
    val vals = NdArray.fromDoubles(DType.F64, Array(10, 2),
      Array.tabulate(20)(_.toDouble))
    def mk(name: String) = XbeamDataset.fromLocal(spark,
      Map(name -> (Seq("t", "x"), vals)), chunks = Map("t" -> 4))
    val ds = mk("v")
    val base = exchanges(ds)
    // truncate and the trim path slice chunk-locally — zero added exchanges
    assert(exchanges(ds.truncate("t", 7)) == base,
      "truncate must not shuffle")
    // thin with a chunk-dividing stride: outputs land on the chunk/stride
    // grid as-is — zero added exchanges; a non-dividing stride realigns
    // through exactly one consolidation
    assert(exchanges(ds.thin("t", 2)) == base,
      "aligned thin must not shuffle")
    assert(exchanges(ds.thin("t", 3)) == base + 1,
      "non-aligned thin must consolidate in exactly one exchange")
    assert(exchanges(ds.coarsen(Map("t" -> 2), "mean", boundary = "trim")) == base,
      "trim coarsen must not shuffle")
    // coordinate groupby: partials shuffle exactly once; grouped anomaly
    // broadcasts the (plan-time-collected) means and subtracts map-only
    val coord2 = NdArray.fromLongs(graft.ndarray.DType.I64, Array(10),
      Array.tabulate(10)(i => (i % 3).toLong))
    val dsg = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord2),
      chunks = Map("t" -> 4))
    assert(exchanges(dsg.groupbyCoordMean("t")) == base + 1,
      "groupbyCoordMean must shuffle partials exactly once")
    assert(exchanges(dsg.groupbyCoordAnomaly("t")) == base,
      "groupbyCoordAnomaly must subtract map-only (means broadcast)")
    // merge/whereDs: exactly ONE zip exchange unites the sides
    val m = mk("v").merge(mk("w"))
    assert(exchanges(m) == base + 1, "merge must zip in exactly one exchange")
    val w = mk("v").whereDs(mk("mask"), mk("v"))
    assert(exchanges(w) == base + 1, "whereDs must zip in exactly one exchange")
    // combineFirst rides the same single zip; the fill is a narrow fold
    val cf = mk("v").combineFirst(mk("v").mapValues(_ - 1))
    assert(exchanges(cf) == base + 1,
      "combineFirst must zip in exactly one exchange")
    // rollingQuantile shares rolling's single halo exchange — the
    // window-local sort adds no plan step
    assert(exchanges(ds.rollingQuantile("t", 3, 0.25)) == base + 1,
      "rollingQuantile must shuffle exactly once (the halo exchange)")
    // cross: one zip exchange; the 3-slice product is chunk-local
    val vec = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("c", "t"), NdArray.fromDoubles(DType.F64,
        Array(3, 4), Array.tabulate(12)(_.toDouble)))),
      chunks = Map("c" -> 3, "t" -> 2))
    assert(exchanges(vec.cross(vec, "c")) == exchanges(vec) + 1,
      "cross must zip in exactly one exchange")
    // broadcastLike: the tile is a narrow flatMap — NO exchange added
    val sliver = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t"), NdArray.fromDoubles(DType.F64,
        Array(4), Array(1, 2, 3, 4)))), chunks = Map("t" -> 2))
    assert(exchanges(sliver.broadcastLike(vec)) == exchanges(sliver),
      "broadcastLike must add no exchange (narrow tile)")
  }

  test("stack/unstack reshape shuffle-free; nearest interp gathers in ONE shuffle") {
    import graft.api.XbeamDataset
    import graft.ndarray.{DType, NdArray}
    def plan(ds: XbeamDataset): String =
      ds.chunkDataset.queryExecution.executedPlan.toString
    val vals = NdArray.fromDoubles(DType.F64, Array(8, 4),
      Array.tabulate(32)(_.toDouble))
    val ds = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), chunks = Map("t" -> 4))
    // stack/unstack: metadata + per-chunk reshape over the SAME buffers
    val st = ds.stack(Seq("t", "x"), "s")
    assert(!plan(st).contains("Exchange"), "stack must not shuffle")
    assert(!plan(st.unstack("s", "t2", "x2", 4L)).contains("Exchange"),
      "unstack must not shuffle")
    // the datetime-label flavors share the same gather machinery: one
    // exchange for time interp and long reindex, zero added for the
    // plan-time timeField coord derivation
    locally {
      val base = java.time.Instant.parse("2020-01-01T00:00:00Z")
        .getEpochSecond * 1000000000L
      val tc = NdArray.fromLongs(graft.ndarray.DType.TimeNs, Array(8),
        Array.tabulate(8)(i => base + i * 1000L))
      val dst = XbeamDataset.fromLocal(spark,
        Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> tc),
        chunks = Map("t" -> 4))
      def exchanges(ds: XbeamDataset): Int =
        "(?<!Reused)Exchange".r
          .findAllIn(ds.chunkDataset.queryExecution.executedPlan.toString).size
      val b = exchanges(dst)
      assert(exchanges(dst.interpLinear("t",
        Array(base + 500L, base + 2500L))) == b + 1,
        "time interp must gather in exactly one exchange")
      assert(exchanges(dst.reindex("t", Array(base, base + 3000L))) == b + 1,
        "long-label reindex must gather in exactly one exchange")
      assert(exchanges(dst.timeField("t", "hour")) == b,
        "timeField is plan-time metadata — no added exchange")
    }
    // nearest interp: the bounded row-sliver gather is the ONLY exchange
    val coord = NdArray.fromDoubles(DType.F64, Array(8),
      Array.tabulate(8)(_.toDouble))
    val dsc = XbeamDataset.fromLocal(spark,
      Map("v" -> (Seq("t", "x"), vals)), coords = Map("t" -> coord),
      chunks = Map("t" -> 4))
    val ip = plan(dsc.interpNearest("t", Array(0.25, 3.75, 6.5)))
    assert("Exchange".r.findAllIn(ip).length == 1,
      s"nearest interp must gather in exactly one shuffle:\n$ip")
  }

  test("zarr-scan pancake->pencil rechunk in 2 stages shuffles twice") {
    import graft.api.XbeamDataset
    import graft.ndarray.{DType, NdArray}
    import graft.operators.ChunkTransforms
    val (nt, nl, nx) = (120, 36, 72)
    val names = Seq("time", "lat", "lon")
    val vals = Seq("a", "b").zipWithIndex.map { case (n, v) =>
      n -> (names, NdArray.fromDoubles(DType.F32, Array(nt, nl, nx),
        Array.tabulate(nt * nl * nx)(i => (i * 7 + v) % 101 / 8.0)))
    }.toMap
    val path = java.nio.file.Files.createTempDirectory("pencil").toString + "/store"
    XbeamDataset.fromLocal(spark, vals, chunks = Map("time" -> 2)).toZarr(path)
    val src = XbeamDataset.fromZarr(spark, path)
    val target = Map("time" -> nt, "lat" -> 4, "lon" -> 6)
    // the largest memory bound on a geometric ladder that still plans
    // two stages (plus the two edge stages)
    val floor = 8L * nl * nx * 2
    val maxMem = Iterator.iterate(floor)(_ * 5 / 4).takeWhile(_ < floor * 64)
      .filter { m =>
        ChunkTransforms.rechunkStages(names, src.template.dimSizes,
          src.chunkSizes, target, itemsize = 8, maxMem = m).size == 4
      }.toSeq.last
    val re = src.rechunk(target, maxMem)
    val plan = re.chunkDataset.queryExecution.executedPlan.toString
    // the first stage re-reads the store; the last consolidate merges the
    // variables: one exchange per planned stage, none for the edges or
    // for ConsolidateVariables
    assert("(?<!Reused)Exchange".r.findAllIn(plan).size == 2,
      s"a 2-stage rechunk must shuffle exactly twice:\n$plan")
    val pairs = re.chunkDataset.collect()
    assert(pairs.length == 9 * 12 && pairs.forall(_._1.vars.isEmpty))
    pairs.foreach { case (k, c) =>
      vals.foreach { case (n, (_, arr)) =>
        val want = arr.slice(Array(0, k.offsets("lat").toInt, k.offsets("lon").toInt),
          Array(nt, 4, 6))
        assert(c.vars(n).arr.sameAs(want), s"$n at $k")
      }
    }
  }
}
