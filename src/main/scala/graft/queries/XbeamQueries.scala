package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{TabularBridge, XbeamDataset}
import graft.core.{ArrayChunk, ChunkKey, Template, VarArray, VarSpec}
import graft.ndarray.{DType, NdArray}
import graft.operators.ChunkTransforms

/** The chunk-engine operator inventory (SURVEY §2), driven end-to-end
  * through the driver's DuckDB-oracle gate. The `events` table provides
  * a dense integer key space (event_id = 0..N-1 at every sf), which we
  * reshape into a 2-d grid `t = event_id / 50, x = event_id % 50` with
  * two variables: `uid` (int64) and `vf = floor(value)` (integer-valued
  * float64). Integer-valued doubles make every sum order-independent and
  * bit-exact across engines, so chunked means/rechunks hash-match plain
  * SQL.
  *
  * Each query is a REAL distributed chunk pipeline: rows → chunk
  * assembly (one shuffle) → the operator under test → chunk explosion
  * back to rows. Chunk payloads never visit the driver.
  *
  * Coverage ↔ reference map:
  *   x01 from/to rows     ≈ from_ptransform + tabular bridge (SURVEY §7.8)
  *   x02 rechunk          ≈ Rechunk / split+consolidate (rechunk.py:521-605)
  *   x03 mean over dim    ≈ Dataset.mean (dataset.py:1060-1103)
  *   x04 zarr + head + select ≈ to_zarr/from_zarr + scan pushdowns
  *       (zarr.py:637-821, dataset.py:1105-1121, core.py:515-541)
  *   x05 zarr + rechunk-as-re-read + tail ≈ dataset.py:1010-1019, 1123-1133
  *   x06 transpose        ≈ dataset.py:1137
  *   x07 zip              ≈ multi-dataset DatasetToChunks (core.py:474-502)
  *   x08 mapBlocks        ≈ dataset.py:880-964
  *   x09 climatology      ≈ examples/era5_climatology.py (split → rekey →
  *       Mean.PerKey)
  */
object XbeamQueries {
  import Tables.t

  private val W = 50L

  private val GRID_DUCK =
    s"""grid AS (SELECT event_id // $W AS t, event_id % $W AS x,
       |  user_id AS uid, CAST(floor(value) AS DOUBLE) AS vf FROM events)""".stripMargin

  private def gridDf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").selectExpr(
      s"event_id div $W AS t", s"event_id % $W AS x",
      "user_id AS uid", "CAST(floor(value) AS DOUBLE) AS vf")

  /** events row count per sf dir, cached: the grid shape is a plan-time
    * constant, so 11 chunk queries shouldn't each pay a count job. */
  private val nRows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** rows → distributed chunk assembly, chunked {t:16, x:16}. */
  private def gridXds(s: SparkSession, dir: String): XbeamDataset = {
    val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
    TabularBridge.fromDataFrame(gridDf(s, dir), s,
      dims = Seq("t" -> n / W, "x" -> W),
      vars = Seq("uid" -> DType.I64, "vf" -> DType.F64),
      chunks = Map("t" -> 16, "x" -> 16))
  }

  /** Per-(query, sf) scratch Zarr store under target/ (gitignored). */
  private def zarrPath(name: String, dir: String): String =
    java.nio.file.Paths.get("target", "zarr",
      name + "_" + new java.io.File(dir).getName).toAbsolutePath.toString

  val defs: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- x01
    // Row→chunk→row roundtrip: fromDataFrame's grouped block assembly
    // (one shuffle on the deterministic chunk key) then toDataFrame's
    // distributed explosion. Identity on the grid.
    QueryDef(
      "x01_chunk_roundtrip",
      (s, dir) => TabularBridge.toDataFrame(gridXds(s, dir)).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x02
    // Multi-stage rechunk {16,16}→{24,10}: neither divides the other on
    // either dim, so the full split → shuffle-consolidate path runs
    // (RechunkStage, rechunk.py:503-517). Values must survive exactly.
    QueryDef(
      "x02_rechunk",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).rechunk(Map("t" -> 24, "x" -> 10))).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x03
    // Keyed mean over dim x (Dataset.mean): per-chunk (sum, count)
    // partials, one keyed shuffle with map-side combine. Integer-valued
    // inputs → exact sums → bit-exact sum/count division both engines.
    QueryDef(
      "x03_mean_dim",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).mean(Set("x"))).orderBy("t"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x04
    // Zarr sink + source (zlib-compressed), then the two scan pushdowns:
    // select prunes the variable read entirely; head rewrites the scan
    // region — no filter ever runs over data.
    QueryDef(
      "x04_zarr_head_select",
      (s, dir) => {
        val store = zarrPath("x04", dir)
        gridXds(s, dir).toZarr(store, compressor = Some("zlib"))
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("uid")).head("t", 12))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid FROM grid WHERE t < 12 ORDER BY t, x""")),

    // ---------------------------------------------------------------- x05
    // Zarr roundtrip + rechunk-as-re-read (chunks {32, 50} are multiples
    // of stored {16, 16}-within-bounds → zero-shuffle re-read,
    // dataset.py:1010-1019) + tail's offset pushdown (reads start
    // mid-store, not chunk-aligned). Like the reference (positions are
    // 0-based over the sliced region), tail re-origins dim t at 0 — the
    // oracle shifts accordingly.
    QueryDef(
      "x05_zarr_tail_reread",
      (s, dir) => {
        val store = zarrPath("x05", dir)
        gridXds(s, dir).toZarr(store)
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store, chunks = Map("t" -> 32, "x" -> 50))
            .tail("t", 7).select(Set("vf")))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t - (SELECT max(t) - 6 FROM grid) AS t, x, vf FROM grid
        WHERE t >= (SELECT max(t) - 6 FROM grid) ORDER BY t, x""")),

    // ---------------------------------------------------------------- x06
    // Transpose: per-chunk axis permutation; dims reorder to (x, t).
    QueryDef(
      "x06_transpose",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).transpose(Seq("x", "t"))).orderBy("x", "t"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY x, t""")),

    // ---------------------------------------------------------------- x07
    // Aligned zip of two single-variable datasets (select each var, then
    // recombine): one co-partitioned cogroup on the offsets key.
    QueryDef(
      "x07_zip_aligned",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val a = xds.select(Set("uid"))
        val b = xds.select(Set("vf"))
        val merged = a.template.copy(
          vars = Map("uv" -> VarSpec(Seq("t", "x"), DType.F64)))
        val zipped = a.zipWith(b)({ (ca, cb) =>
          ArrayChunk(Map("uv" -> VarArray(Seq("t", "x"),
            ca.vars("uid").arr.zipF64(cb.vars("vf").arr)(_ + _))))
        }, merged)
        TabularBridge.toDataFrame(zipped).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid + vf AS uv FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x08
    // mapBlocks (the UDF surface): elementwise 2v+1 per chunk; template
    // and dtypes re-inferred from a dummy-chunk application.
    QueryDef(
      "x08_mapblocks",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).mapBlocks(c => c.mapVars { (_, va) =>
          VarArray(va.dims, va.arr.mapF64(v => v * 2 + 1))
        })).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, CAST(uid * 2 + 1 AS DOUBLE) AS uid, vf * 2 + 1 AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x09
    // The reference's flagship pipeline shape (ERA5 climatology):
    // split into t-slices → rekey (t mod 24 → "hour", keep x) →
    // Mean.PerKey (one shuffle, partial aggregation) → re-expand the
    // hour axis and bridge back to rows.
    QueryDef(
      "x09_climatology",
      (s, dir) => {
        import ChunkTransforms.{Pair, pairEnc}
        val xds = gridXds(s, dir)
        val slices = ChunkTransforms.splitChunks(xds.chunkDataset, Map("t" -> 1))
        val meaned = ChunkTransforms.mean(slices, dims = Set("t"), skipna = true,
          rekey = k => ChunkKey(Map(
            "hour" -> k.offsets.getOrElse("t", 0L) % 24,
            "x" -> k.offsets.getOrElse("x", 0L)), None))
        val expanded = meaned.map { p: Pair =>
          (p._1, ArrayChunk(p._2.vars.map { case (n, va) =>
            n -> VarArray("hour" +: va.dims,
              NdArray.fromDoubles(DType.F64, Array(1, va.arr.shape(0)),
                va.arr.toDoubles))
          }))
        }
        val hours = math.min(24L, xds.template.dimSizes("t"))
        val out = XbeamDataset.fromPairs(s,
          Template(Seq("hour" -> hours, "x" -> W),
            Map("uid" -> VarSpec(Seq("hour", "x"), DType.F64),
                "vf" -> VarSpec(Seq("hour", "x"), DType.F64)),
            Map.empty, Map.empty),
          chunks = Map("hour" -> 1, "x" -> 16), expanded)
        TabularBridge.toDataFrame(out).orderBy("hour", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t % 24 AS hour, x, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY hour, x ORDER BY hour, x""")),

    // ---------------------------------------------------------------- x10
    // The DataSourceV2 connector under SQL: spark.read.format("zarr")
    // over a store written by the engine, with a dim predicate (chunk
    // pruning in planInputPartitions + residual filter) and a column
    // subset (pruning reaches the store read — uid blocks never leave
    // disk). Values stay exact: vf is integer-valued so the double sum
    // is order-independent.
    QueryDef(
      "x10_sql_over_zarr",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val store = zarrPath("x10", dir)
        gridXds(s, dir).toZarr(store)
        s.read.format("zarr").load(store)
          .filter("t < 25")
          .groupBy(col("t"))
          .agg(sum(col("vf")).as("sum_vf"),
               count(lit(1)).cast("long").as("n"))
          .orderBy(col("t"))
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, sum(vf) AS sum_vf, count(*) AS n
        FROM grid WHERE t < 25 GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x11
    // Zarr v3 sink + source (zarr.json metadata, c/-prefixed chunk
    // keys, gzip codec) with sharding_indexed: 8x16 inner chunks packed
    // two-per-shard into 16x16 shard files (offset/nbytes index +
    // crc32c). Driven through the same pipeline as x04: variable
    // pruning + head pushdown over the sharded v3 store.
    QueryDef(
      "x11_zarr_v3_roundtrip",
      (s, dir) => {
        val store = zarrPath("x11", dir)
        gridXds(s, dir).toZarr(store, zarrChunks = Map("t" -> 8),
          compressor = Some("gzip"), zarrFormat = 3,
          zarrShards = Map("t" -> 16))
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("vf")).head("t", 9))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, vf FROM grid WHERE t < 9 ORDER BY t, x""")),

    // ---------------------------------------------------------------- x12
    // The cost-model-planned multi-stage mean (MultiStageMean,
    // combiners.py:295-394) end-to-end: same semantics as x03's
    // single-shuffle mean — integer-valued sums make the staged
    // reduction bit-exact — but reduced through the FanoutPlanner's
    // staged combiner tree.
    QueryDef(
      "x12_mean_multistage",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).meanMultiStage(Set("x"))).orderBy("t"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x13
    // split-vars end to end: per-variable chunks from the scan (one
    // chunk per (key, var) — the reference's split_vars mode and the
    // policy rechunk uses internally, dataset.py:1022-1024), a
    // non-multiple rechunk executed per variable, then an explicit
    // ConsolidateVariables shuffle merges the variable set back before
    // the bridge.
    QueryDef(
      "x13_splitvars_rechunk",
      (s, dir) => {
        import graft.operators.ChunkTransforms
        val store = zarrPath("x13", dir)
        gridXds(s, dir).toZarr(store)
        val xds = XbeamDataset.fromZarr(s, store, splitVars = true)
          .rechunk(Map("t" -> 24, "x" -> 10))
        val merged = ChunkTransforms.consolidateVariables(xds.chunkDataset)
        val out = XbeamDataset.fromPairs(s, xds.template, xds.chunkSizes,
          merged, validate = false)
        TabularBridge.toDataFrame(out).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x14
    // Mean.Globally (combiners.py:150-166): the whole grid collapses to
    // a single origin-keyed scalar chunk per variable — per-chunk
    // partials, one keyed shuffle, exact integer-valued sums.
    QueryDef(
      "x14_mean_global",
      (s, dir) => TabularBridge.toDataFrame(gridXds(s, dir).meanGlobal()),
      Some(s"""
        WITH $GRID_DUCK
        SELECT CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid""")),

    // ---------------------------------------------------------------- x15
    // Full interop loop: zarr → SQL rows (DataSourceV2 connector, with
    // a pushed dim predicate) → chunk assembly (fromDataFrame) → chunked
    // mean over x → rows again. A user can cross between the relational
    // and tensor worlds in either direction mid-pipeline.
    QueryDef(
      "x15_sql_to_chunks",
      (s, dir) => {
        val store = zarrPath("x15", dir)
        val grid = gridXds(s, dir)
        grid.toZarr(store)
        val tBound = math.min(40L, grid.template.dimSizes("t"))
        val rows = s.read.format("zarr").load(store).filter(s"t < $tBound")
        val xds = TabularBridge.fromDataFrame(rows, s,
          dims = Seq("t" -> tBound, "x" -> W),
          vars = Seq("uid" -> DType.I64, "vf" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(xds.mean(Set("x"))).orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid
        WHERE t < least(40, (SELECT max(t) + 1 FROM grid))
        GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x17
    // Blosc-compressed store (numcodecs' real-world default: blosc+lz4,
    // byte shuffle) through the same pushdown pipeline as x04: write
    // blosc v2 chunks, reopen, prune to one variable, head-slice. The
    // .zarray carries the standard numcodecs blosc object, so the store
    // is also openable by zarr-python.
    QueryDef(
      "x17_zarr_blosc",
      (s, dir) => {
        val store = zarrPath("x17", dir)
        gridXds(s, dir).toZarr(store, compressor = Some("blosc"))
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("vf")).head("t", 14))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, vf FROM grid WHERE t < 14 ORDER BY t, x""")),

    // ---------------------------------------------------------------- x58
    // x17's pipeline over the blosc BIT-shuffle filter (numcodecs
    // shuffle=BITSHUFFLE, the default of some public producers): write
    // bit-shuffled v2 chunks (.zarray advertises shuffle=2, each frame
    // carries the bit-shuffle flag), reopen, prune, tail-slice. Proves
    // the last blosc filter gap closed end-to-end, not just at the
    // codec layer.
    QueryDef(
      "x58_zarr_bitshuffle",
      (s, dir) => {
        val store = zarrPath("x58", dir)
        gridXds(s, dir).toZarr(store, compressor = Some("blosc:zstd:bit"))
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("vf")).tail("t", 14))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t - (SELECT max(t) - 13 FROM grid) AS t, x, vf FROM grid
        WHERE t >= (SELECT max(t) - 13 FROM grid) ORDER BY t, x""")),

    // ---------------------------------------------------------------- x59
    // Exponentially-weighted moving mean (xarray rolling_exp / pandas
    // ewm(adjust=False), α=0.5): the linear recurrence crosses chunks
    // as a composed affine map — sliver-sized shuffle only. α=0.5 makes
    // every weight a dyadic 2^-k, and head(40) keeps each y a sum of
    // ≤ 2^49-numerator dyadics, so the recurrence (Spark, sequential
    // per chunk + affine seams) and the closed-form weighted sum
    // (DuckDB, any summation order) are BIT-IDENTICAL.
    QueryDef(
      "x59_ewm",
      (s, dir) => {
        // head() pushdown needs a scan; the bridge grid is built from
        // rows, so bound t at ingestion instead (the x15 idiom) — and
        // scale-aware, since small SFs have fewer than 40 t rows
        val tBound = math.min(40L, gridXds(s, dir).template.dimSizes("t"))
        val xds = TabularBridge.fromDataFrame(
          gridDf(s, dir).filter(s"t < $tBound"), s,
          dims = Seq("t" -> tBound, "x" -> W),
          vars = Seq("vf" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(xds.ewm("t", 0.5)).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        g AS (SELECT t, x, vf FROM grid
              WHERE t < least(40, (SELECT max(t) + 1 FROM grid)))
        SELECT a.t, a.x,
               sum(b.vf * CASE WHEN b.t = 0
                 THEN 1.0 / CAST((CAST(1 AS BIGINT) << a.t) AS DOUBLE)
                 ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (a.t - b.t + 1)) AS DOUBLE)
               END) AS vf
        FROM g a JOIN g b ON a.x = b.x AND b.t <= a.t
        GROUP BY a.t, a.x ORDER BY a.t, a.x""")),

    // ---------------------------------------------------------------- x60
    // Elementwise masking chain (xarray where → fillna → clip): pure
    // narrow per-chunk passes over BOTH vars — no shuffle beyond the
    // grid build. Integer-valued selections and bounds are exact.
    QueryDef(
      "x60_where_clip_fillna",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir)
          .where(v => v % 3.0 != 0.0) // multiples of 3 → NaN
          .fillna(-5.0)
          .clip(0.0, 100.0))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CASE WHEN uid % 3 <> 0
                 THEN LEAST(GREATEST(CAST(uid AS DOUBLE), 0), 100)
                 ELSE 0 END AS uid,
               CASE WHEN vf % 3 <> 0
                 THEN LEAST(GREATEST(vf, 0), 100) ELSE 0 END AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x61
    // Running product (xarray cumprod): the prefix-scan primitive with
    // the multiplicative monoid. Factors ∈ {1, 2} over a ≤40 lane keep
    // every running product an exact power of two ≤ 2^40, so any scan
    // association matches DuckDB's windowed product() bit-exactly.
    QueryDef(
      "x61_cumprod",
      (s, dir) => {
        val tBound = math.min(40L, gridXds(s, dir).template.dimSizes("t"))
        val xds = TabularBridge.fromDataFrame(
          gridDf(s, dir).filter(s"t < $tBound"), s,
          dims = Seq("t" -> tBound, "x" -> W),
          vars = Seq("vf" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(
          xds.mapValues(v => 1.0 + (v % 2.0)).cumprod("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               product(1 + (vf % 2)) OVER (PARTITION BY x ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vf
        FROM grid WHERE t < least(40, (SELECT max(t) + 1 FROM grid))
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x62
    // Circular shift (xarray roll, roll_coords=False): out[t] =
    // in[(t-7) mod T]. k=7 is deliberately NOT chunk-aligned (chunks of
    // 16), so wrap pieces split at the seam AND at the grid before one
    // consolidation shuffle. Pure data movement → values exact.
    QueryDef(
      "x62_roll",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).roll("t", 7)).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT a.t, a.x, b.uid, b.vf
        FROM grid a JOIN grid b
          ON a.x = b.x AND b.t = (a.t - 7 + (SELECT sz FROM n)) % (SELECT sz FROM n)
        ORDER BY a.t, a.x""")),

    // ---------------------------------------------------------------- x63
    // Rolling valid-count (xarray rolling(t=5).count()): NaN-masked
    // values counted per trailing window — count skips NaN where every
    // other rolling op poisons. Integer counts are exact by nature.
    // min_periods gates on VALID observations (pandas/xarray): a window
    // holding zero valid values yields NaN even at min_periods=1 —
    // sentinel'd to -1 on both sides (SQL's count would say 0 there).
    QueryDef(
      "x63_rolling_count",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        TabularBridge.toDataFrame(
          gridXds(s, dir)
            .where(v => v % 5.0 != 0.0) // multiples of 5 → NaN
            .rolling("t", 5, "count"))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cnt AS (
          SELECT t, x,
                 sum(CASE WHEN uid % 5 <> 0 THEN 1 ELSE 0 END) OVER w AS cu,
                 sum(CASE WHEN vf % 5 <> 0 THEN 1 ELSE 0 END) OVER w AS cv
          FROM grid
          WINDOW w AS (PARTITION BY x ORDER BY t
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        SELECT t, x,
               CASE WHEN cu >= 1 THEN CAST(cu AS DOUBLE) ELSE -1.0 END AS uid,
               CASE WHEN cv >= 1 THEN CAST(cv AS DOUBLE) ELSE -1.0 END AS vf
        FROM cnt
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x64
    // Negative shift (xarray shift(t=-3)): values pull FORWARD, the
    // global tail fills NaN → sentinel. History crosses chunks as the
    // successor's leading sliver (two-sided halo); k=3 with chunks of
    // 16 exercises mid-lane and lane-end boundaries.
    QueryDef(
      "x64_shift_negative",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        TabularBridge.toDataFrame(gridXds(s, dir).shift("t", -3))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               coalesce(lead(CAST(uid AS DOUBLE), 3)
                 OVER (PARTITION BY x ORDER BY t), -1.0) AS uid,
               coalesce(lead(vf, 3)
                 OVER (PARTITION BY x ORDER BY t), -1.0) AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x66
    // Constant padding (xarray pad(t=(5,3))): data shifts +5, 5 leading
    // and 3 trailing NaN rows appear → sentinel. before=5 is NOT
    // chunk-aligned (chunks of 16), so the realigning consolidation is
    // genuinely exercised.
    QueryDef(
      "x66_pad",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        TabularBridge.toDataFrame(gridXds(s, dir).pad("t", 5, 3))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid),
        axes AS (SELECT a.t, xs.x
                 FROM (SELECT unnest(range(0, (SELECT sz FROM n) + 8)) AS t) a
                 CROSS JOIN (SELECT DISTINCT x FROM grid) xs)
        SELECT axes.t, axes.x,
               coalesce(CAST(g.uid AS DOUBLE), -1.0) AS uid,
               coalesce(g.vf, -1.0) AS vf
        FROM axes LEFT JOIN grid g ON g.t = axes.t - 5 AND g.x = axes.x
        ORDER BY axes.t, axes.x""")),

    // ---------------------------------------------------------------- x18
    // N-way aligned zip (the multi-dataset DatasetToChunks list form,
    // core.py:474-502): three datasets — uid, vf, and a mapBlocks
    // derivative vf² — zip positionally into one variable through a
    // single union+group shuffle. Integer-valued doubles keep the
    // combination exact.
    QueryDef(
      "x18_zip_nway",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val a = xds.select(Set("uid"))
        val b = xds.select(Set("vf"))
        val c = b.mapBlocks(ch => ch.mapVars { (_, va) =>
          VarArray(va.dims, va.arr.mapF64(v => v * v))
        })
        val merged = a.template.copy(
          vars = Map("uvw" -> VarSpec(Seq("t", "x"), DType.F64)))
        val zipped = a.zipAll(Seq(b, c))({ cs =>
          val sum = cs(0).vars("uid").arr.zipF64(cs(1).vars("vf").arr)(_ + _)
            .zipF64(cs(2).vars("vf").arr)(_ + _)
          ArrayChunk(Map("uvw" -> VarArray(Seq("t", "x"), sum)))
        }, merged)
        TabularBridge.toDataFrame(zipped).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid + vf + vf * vf AS uvw FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x16
    // Datetime-coordinate climatology (examples/era5_climatology.py:
    // 35-41): the t axis gets a real datetime64[ns] coordinate
    // (2020-01-01 + 25h steps — the odd stride walks through months
    // and hours unevenly), persists through a Zarr store, and the
    // rekey reads calendar month/hour FROM THE COORD ARRAY read back
    // out of the store — not from integer offsets like x09. Split to
    // t-slices → rekey (month, hour) → Mean.PerKey over (t, x).
    // The oracle reconstructs the same timestamps with date_part.
    QueryDef(
      "x16_datetime_climatology",
      (s, dir) => {
        import ChunkTransforms.{Pair, pairEnc}
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        // persist the coord through a store and read it back: the gate
        // covers datetime64 coordinate IO, not just the rekey
        val store = zarrPath("x16", dir)
        val withCoord = xds.assignCoords("t", timeCoord)
        withCoord.toZarr(store)
        val back = XbeamDataset.fromZarr(s, store)
        val coordNs = back.template.coords("t").toLongs
        def calendar(tOff: Long): (Long, Long) = {
          val ldt = java.time.LocalDateTime.ofInstant(
            java.time.Instant.ofEpochSecond(coordNs(tOff.toInt) / 1000000000L),
            java.time.ZoneOffset.UTC)
          (ldt.getMonthValue - 1L, ldt.getHour.toLong)
        }
        val slices = ChunkTransforms.splitChunks(back.chunkDataset, Map("t" -> 1))
        val meaned = ChunkTransforms.mean(slices, dims = Set("t", "x"),
          skipna = true,
          rekey = k => {
            val (month, hour) = calendar(k.offsets.getOrElse("t", 0L))
            ChunkKey(Map("month" -> month, "hour" -> hour), None)
          })
        val expanded = meaned.map { p: Pair =>
          (p._1, ArrayChunk(p._2.vars.map { case (n, va) =>
            n -> VarArray(Seq("month", "hour"),
              NdArray.fromDoubles(DType.F64, Array(1, 1), va.arr.toDoubles))
          }))
        }
        val out = XbeamDataset.fromPairs(s,
          Template(Seq("month" -> 12L, "hour" -> 24L),
            Map("uid" -> VarSpec(Seq("month", "hour"), DType.F64),
                "vf" -> VarSpec(Seq("month", "hour"), DType.F64)),
            Map.empty, Map.empty),
          chunks = Map("month" -> 1, "hour" -> 1), expanded)
        TabularBridge.toDataFrame(out).orderBy("month", "hour")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t) AS ts
                FROM grid)
        SELECT date_part('month', ts) - 1 AS month,
               date_part('hour', ts) AS hour,
               CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM cal GROUP BY month, hour ORDER BY month, hour""")),

    // ---------------------------------------------------------------- x19
    // The indices key mode (core.py:71-80) as a SHUFFLE key, not just a
    // data-model spec: every chunk key converts to chunk indices against
    // the grid, the chunks regroup on the indices canonical encoding
    // (a real exchange — the addressing mode the reference's ReadDataset
    // is moving to), then convert back and bridge out. Identity values.
    QueryDef(
      "x19_indices_roundtrip",
      (s, dir) => {
        import ChunkTransforms.{Pair, pairEnc}
        import org.apache.spark.sql.Encoders
        val xds = gridXds(s, dir)
        val chunks = xds.chunkSizes
        val regrouped = xds.chunkDataset
          .map { p: Pair => (p._1.toIndices(chunks), p._2) }
          .groupByKey(_._1.canonical)(Encoders.STRING)
          .mapGroups { (_, it) =>
            val items = it.toSeq
            require(items.length == 1,
              s"indices key collision: ${items.length} chunks in one group")
            (items.head._1.toOffsets(chunks), items.head._2)
          }
        val out = XbeamDataset.fromPairs(s, xds.template, chunks, regrouped)
        TabularBridge.toDataFrame(out).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x21
    // The reference's append workflow (zarr_test.py:474-530): write the
    // first 16 t-slices with a truncated template, grow the store's
    // metadata along t (Zarr.extendDim — the xarray
    // `to_zarr(mode='a', append_dim='t')` analogue; chunk-boundary
    // aligned so no existing block is rewritten), then region-write the
    // remaining chunks with needsSetup=false (ChunksToZarr's
    // needs_setup). Reading the store back must yield the full grid.
    QueryDef(
      "x21_zarr_append",
      (s, dir) => {
        import ChunkTransforms.Pair
        import graft.sources.Zarr
        val store = zarrPath("x21", dir)
        val xds = gridXds(s, dir)
        val tFull = xds.template.dimSizes("t")
        val tFirst = 16L // exactly one stored chunk along t
        val firstPart = xds.chunkDataset.filter { p: Pair =>
          p._1.offsets.getOrElse("t", 0L) < tFirst
        }
        XbeamDataset.fromPairs(s,
          xds.template.replaceDims(sizes = Map("t" -> tFirst)),
          xds.chunkSizes, firstPart, validate = false).toZarr(store)
        Zarr.extendDim(store, "t", tFull)
        val rest = xds.chunkDataset.filter { p: Pair =>
          p._1.offsets.getOrElse("t", 0L) >= tFirst
        }
        XbeamDataset.fromPairs(s, xds.template, xds.chunkSizes, rest,
          validate = false).toZarr(store, needsSetup = false)
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x22
    // The reduction family beyond Mean (the combiners the reference
    // lists as TODO, combiners.py:29): sum / min / max / var / std over
    // dim x, each a per-chunk partial + one keyed shuffle, joined into
    // one frame on t. Integer-valued inputs keep sum and both variance
    // moments exact, and var evaluates in the same expression order on
    // both engines, so every column is bit-identical.
    QueryDef(
      "x22_reductions",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.sum(Set("x")), "sum")
          .join(frame(xds.min(Set("x")), "min"), "t")
          .join(frame(xds.max(Set("x")), "max"), "t")
          .join(frame(xds.variance(Set("x")), "var"), "t")
          .join(frame(xds.std(Set("x")), "std"), "t")
          .orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
               CAST(sum(uid) AS DOUBLE) AS uid_sum, sum(vf) AS vf_sum,
               CAST(min(uid) AS DOUBLE) AS uid_min, min(vf) AS vf_min,
               CAST(max(uid) AS DOUBLE) AS uid_max, max(vf) AS vf_max,
               (sum(CAST(uid AS DOUBLE) * uid) - CAST(sum(uid) AS DOUBLE) * sum(uid) / count(*)) / count(*) AS uid_var,
               (sum(vf * vf) - sum(vf) * sum(vf) / count(*)) / count(*) AS vf_var,
               sqrt((sum(CAST(uid AS DOUBLE) * uid) - CAST(sum(uid) AS DOUBLE) * sum(uid) / count(*)) / count(*)) AS uid_std,
               sqrt((sum(vf * vf) - sum(vf) * sum(vf) / count(*)) / count(*)) AS vf_std
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x65
    // Sample (ddof=1) variance/std over x — x22's moment machinery with
    // the n-ddof divisor (xarray's ddof param, pandas' default
    // convention). Same exact expression tree both sides; only the
    // final single division changes.
    QueryDef(
      "x65_var_ddof",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.variance(Set("x"), ddof = 1), "var1")
          .join(frame(xds.std(Set("x"), ddof = 1), "std1"), "t")
          .orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
               (sum(CAST(uid AS DOUBLE) * uid) - CAST(sum(uid) AS DOUBLE) * sum(uid) / count(*)) / (count(*) - 1) AS uid_var1,
               (sum(vf * vf) - sum(vf) * sum(vf) / count(*)) / (count(*) - 1) AS vf_var1,
               sqrt((sum(CAST(uid AS DOUBLE) * uid) - CAST(sum(uid) AS DOUBLE) * sum(uid) / count(*)) / (count(*) - 1)) AS uid_std1,
               sqrt((sum(vf * vf) - sum(vf) * sum(vf) / count(*)) / (count(*) - 1)) AS vf_std1
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x23
    // Exact median over dim x: cells assemble via the consolidate
    // shuffle (full x extent per cell), then sort-and-interpolate.
    // x = 50 values per cell → even count → (25th + 26th)/2, exact for
    // integer-valued doubles in both engines.
    QueryDef(
      "x23_median",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).median(Set("x"))).orderBy("t"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, median(CAST(uid AS DOUBLE)) AS uid, median(vf) AS vf
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x24
    // Cross-chunk rolling mean via halo exchange: window 5 over t with
    // chunk t=16, so 4 of every 16 output positions need data from the
    // previous chunk. Each chunk ships only its trailing 4-element
    // slice to its successor (one co-partitioned shuffle of halo
    // slivers, never chunk bodies) — the op map_blocks cannot express.
    // Oracle: SQL trailing window AVG, truncated at the dim start,
    // exact for integer-valued sums.
    QueryDef(
      "x24_rolling_halo",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).rollingMean("t", 5)).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               avg(CAST(uid AS DOUBLE)) OVER w AS uid,
               avg(vf) OVER w AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x25
    // Shift along t through the generic halo primitive: out[t] =
    // in[t-2], the first two t-slices have no history (NaN, mapped to a
    // sentinel here because the oracle's lag() yields NULL and the gate
    // comparison keeps NULL, NaN, and values strictly distinct).
    QueryDef(
      "x25_shift_halo",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        TabularBridge.toDataFrame(gridXds(s, dir).shift("t", 2))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               coalesce(lag(CAST(uid AS DOUBLE), 2) OVER w, -1.0) AS uid,
               coalesce(lag(vf, 2) OVER w, -1.0) AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x26
    // Distributed prefix scan: cumulative sum along t. Per-chunk lane
    // totals (slivers) fold left into an exclusive prefix per
    // lane-chunk, which seeds each chunk's running sum; the lanes are
    // short, so the fold runs inside one lane-sorted shuffle. Oracle:
    // SQL running-sum window. Every scan route folds in the same
    // order, but chunk-wise sums still group float additions by chunk
    // (a chunk total joins the prefix before its own elements do), so
    // the gate's integer-valued data is what keeps it hash-exact
    // against the oracle's element-by-element window.
    QueryDef(
      "x26_cumsum",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).cumsum("t")).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               sum(CAST(uid AS DOUBLE)) OVER w AS uid,
               sum(vf) OVER w AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x27
    // Concat along t (xarray concat): the grid splits into a head scan
    // and a tail scan (both region-pushed into the source), then the
    // tail's keys shift by the head's extent and the chunk collections
    // union — pure key arithmetic, no shuffle. Identity values.
    QueryDef(
      "x27_concat",
      (s, dir) => {
        val store = zarrPath("x27", dir)
        gridXds(s, dir).toZarr(store)
        val xds = XbeamDataset.fromZarr(s, store)
        val tFull = xds.template.dimSizes("t")
        val k = math.max(16L, tFull / 32 * 16) // chunk-aligned split point
        val a = xds.head("t", k)
        val b = xds.tail("t", tFull - k)
        TabularBridge.toDataFrame(a.concat(b, "t")).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x28
    // Exact quantile over dim x (xarray Dataset.quantile, 'linear'
    // interpolation): same consolidate-cells shuffle as the median
    // (which is quantile(0.5)). q = 0.25 is dyadic and the inputs are
    // integer-valued, so v_lo + frac*(v_hi - v_lo) is bit-exact in both
    // engines (DuckDB quantile_cont uses the same rank formula).
    QueryDef(
      "x28_quantile",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).quantile(0.25, Set("x"))).orderBy("t"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, quantile_cont(CAST(uid AS DOUBLE), 0.25) AS uid,
               quantile_cont(vf, 0.25) AS vf
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x67
    // Three quantiles in ONE pass (xarray quantile([.25,.5,.75])): the
    // cell consolidation and per-cell sort are paid once for all three
    // — where three separate quantile() calls would consolidate three
    // times. Same exact linear interpolation as x28, three positions.
    QueryDef(
      "x67_quantiles",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).quantiles(Seq(0.25, 0.5, 0.75), Set("x")))
        .orderBy("t"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
               quantile_cont(CAST(uid AS DOUBLE), 0.25) AS uid_q25,
               quantile_cont(CAST(uid AS DOUBLE), 0.5) AS uid_q50,
               quantile_cont(CAST(uid AS DOUBLE), 0.75) AS uid_q75,
               quantile_cont(vf, 0.25) AS vf_q25,
               quantile_cont(vf, 0.5) AS vf_q50,
               quantile_cont(vf, 0.75) AS vf_q75
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x68
    // count + prod reductions (xarray count/prod) over NaN-masked data:
    // count tallies the valid values; prod multiplies dyadic factors
    // {1,2} (≤ 2^50 over a 50-cell, exact on both engines), skipping
    // NaN like numpy's nanprod. Same one-shuffle partial machinery as
    // sum/min/max.
    QueryDef(
      "x68_count_prod",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val masked = gridXds(s, dir).where(v => v % 7.0 != 0.0)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(masked.count(Set("x")), "cnt")
          .join(frame(masked.mapValues(v => 1.0 + (v % 2.0))
            .prod(Set("x")), "prod"), "t")
          .orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
               CAST(count(CASE WHEN uid % 7 <> 0 THEN 1 END) AS DOUBLE) AS uid_cnt,
               CAST(count(CASE WHEN vf % 7 <> 0 THEN 1 END) AS DOUBLE) AS vf_cnt,
               product(CASE WHEN uid % 7 <> 0 THEN 1.0 + (uid % 2) END) AS uid_prod,
               product(CASE WHEN vf % 7 <> 0 THEN 1.0 + (vf % 2) END) AS vf_prod
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x69
    // Centered rolling mean/sum (xarray rolling(center=True), window 5
    // = 2 back + self + 2 ahead): future values arrive as the
    // successor's leading sliver through the two-sided halo. Truncated
    // windows at both global ends match SQL's PRECEDING/FOLLOWING
    // frame; integer sums + one division stay exact.
    QueryDef(
      "x69_rolling_center",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.rolling("t", 5, "mean", center = true), "cmean")
          .join(frame(xds.rolling("t", 5, "sum", center = true), "csum"),
            Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CAST(sum(uid) OVER w AS DOUBLE) / count(*) OVER w AS uid_cmean,
               sum(vf) OVER w / count(*) OVER w AS vf_cmean,
               CAST(sum(uid) OVER w AS DOUBLE) AS uid_csum,
               sum(vf) OVER w AS vf_csum
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x29
    // argmin/argmax along t (xarray argmin/argmax): the shuffle carries
    // (best value, global index) partials — chunk data never moves.
    // Ties break to the lowest index on both engines (row_number
    // ORDER BY value, t in the oracle).
    QueryDef(
      "x29_argminmax",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("x"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.argmin("t"), "amin")
          .join(frame(xds.argmax("t"), "amax"), "x")
          .orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        r AS (SELECT x, t,
                row_number() OVER (PARTITION BY x ORDER BY uid ASC, t ASC) AS ru_min,
                row_number() OVER (PARTITION BY x ORDER BY uid DESC, t ASC) AS ru_max,
                row_number() OVER (PARTITION BY x ORDER BY vf ASC, t ASC) AS rv_min,
                row_number() OVER (PARTITION BY x ORDER BY vf DESC, t ASC) AS rv_max
              FROM grid)
        SELECT x,
               max(CASE WHEN ru_min = 1 THEN t END) AS uid_amin,
               max(CASE WHEN rv_min = 1 THEN t END) AS vf_amin,
               max(CASE WHEN ru_max = 1 THEN t END) AS uid_amax,
               max(CASE WHEN rv_max = 1 THEN t END) AS vf_amax
        FROM r GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x57
    // Coordinate-valued extremes (xarray idxmin/idxmax): x29's argmin
    // indices mapped through the t coordinate (c[t] = t², plan-time
    // metadata, broadcast) — the shuffle is argmin's own. Ties to the
    // lowest index like x29; t² is an exact integer-valued double on
    // both engines.
    QueryDef(
      "x57_idxminmax",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds0 = gridXds(s, dir)
        val tSize = xds0.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => i.toDouble * i))
        val xds = xds0.assignCoords("t", coord)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("x"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.idxmin("t"), "imin")
          .join(frame(xds.idxmax("t"), "imax"), "x")
          .orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        r AS (SELECT x, t,
                row_number() OVER (PARTITION BY x ORDER BY uid ASC, t ASC) AS ru_min,
                row_number() OVER (PARTITION BY x ORDER BY uid DESC, t ASC) AS ru_max,
                row_number() OVER (PARTITION BY x ORDER BY vf ASC, t ASC) AS rv_min,
                row_number() OVER (PARTITION BY x ORDER BY vf DESC, t ASC) AS rv_max
              FROM grid)
        SELECT x,
               max(CASE WHEN ru_min = 1 THEN CAST(t * t AS DOUBLE) END) AS uid_imin,
               max(CASE WHEN rv_min = 1 THEN CAST(t * t AS DOUBLE) END) AS vf_imin,
               max(CASE WHEN ru_max = 1 THEN CAST(t * t AS DOUBLE) END) AS uid_imax,
               max(CASE WHEN rv_max = 1 THEN CAST(t * t AS DOUBLE) END) AS vf_imax
        FROM r GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x30
    // Anomaly vs the t-mean (the climate-pipeline step after a
    // climatology): one reduction shuffle builds mean_t, which
    // broadcasts back over the full grid — the full dataset never
    // reshuffles. Integer-valued sums keep mean and difference
    // bit-exact vs the oracle's windowed sum/count.
    QueryDef(
      "x30_anomaly",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).anomaly(Set("t"))).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CAST(uid AS DOUBLE) - CAST(sum(uid) OVER w AS DOUBLE) / count(*) OVER w AS uid,
               vf - sum(vf) OVER w / count(*) OVER w AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x31
    // coarsen().mean() downsample (t by 4, x by 2): the factors divide
    // both chunk and dim sizes, so every output block is chunk-LOCAL —
    // zero shuffle, keys divide by the factors.
    QueryDef(
      "x31_coarsen",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).coarsen(Map("t" -> 4, "x" -> 2))).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t // 4 AS t, x // 2 AS x,
               CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY 1, 2 ORDER BY t, x""")),

    // ---------------------------------------------------------------- x32
    // Discrete difference along t (xarray diff): built on the same halo
    // exchange as shift — only 1-slice slivers cross the wire. The
    // first t-slice has no history (NaN → sentinel, as in x25).
    QueryDef(
      "x32_diff",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        TabularBridge.toDataFrame(gridXds(s, dir).diff("t"))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               coalesce(CAST(uid AS DOUBLE) - lag(CAST(uid AS DOUBLE), 1) OVER w, -1.0) AS uid,
               coalesce(vf - lag(vf, 1) OVER w, -1.0) AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x33
    // Weighted mean over x (xarray ds.weighted(w).mean() — the
    // cos-latitude area-weighting shape): weights w[x] = x+1 broadcast
    // from a 1-d array each chunk slices by its own offsets; the
    // shuffle carries (Σ w·v, Σ w) partials only. Integer weights ×
    // integer-valued data keep both sums exact, so the division is
    // bit-identical to the oracle's.
    QueryDef(
      "x33_weighted_mean",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val w = NdArray.fromDoubles(DType.F64, Array(W.toInt),
          Array.tabulate(W.toInt)(i => (i + 1).toDouble))
        TabularBridge.toDataFrame(
          xds.weightedMean(Set("x"), Map("x" -> w))).orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
               sum(CAST(uid AS DOUBLE) * (x + 1)) / sum(CAST(x + 1 AS DOUBLE)) AS uid,
               sum(vf * (x + 1)) / sum(CAST(x + 1 AS DOUBLE)) AS vf
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x34
    // Forward fill along t (xarray ffill): NaNs injected on a value
    // pattern (uid%7, vf%5 — mirrored by the oracle as NULLs), then the
    // distributed scan: per-chunk last-non-NaN slivers, exclusive
    // "running last" per lane, chunk-local fill from the seed. Oracle:
    // last_value IGNORE NULLS running window; positions before the
    // first value stay NaN/NULL → sentinel on both sides.
    QueryDef(
      "x34_ffill",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val masked = gridXds(s, dir).mapBlocks(c => c.mapVars { (n, va) =>
          val m = if (n == "uid") 7.0 else 5.0
          VarArray(va.dims, va.arr.mapF64(v => if (v % m == 0) Double.NaN else v))
        })
        TabularBridge.toDataFrame(masked.ffill("t"))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        masked AS (
          SELECT t, x,
                 CASE WHEN uid % 7 = 0 THEN NULL ELSE CAST(uid AS DOUBLE) END AS uid,
                 CASE WHEN vf % 5 = 0 THEN NULL ELSE vf END AS vf
          FROM grid)
        SELECT t, x,
               coalesce(last_value(uid IGNORE NULLS) OVER w, -1.0) AS uid,
               coalesce(last_value(vf IGNORE NULLS) OVER w, -1.0) AS vf
        FROM masked
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x35
    // sel by datetime-coordinate range (xarray sel(time=slice(...))):
    // the t axis carries a datetime64 coord through a store (as in
    // x16); sel resolves the [Jan 3, Jan 20] window to offsets ON THE
    // DRIVER from the coord array and pushes down as a slice — no
    // filter ever runs over data. Keys re-origin at 0 (the oracle
    // shifts by min(t) of the selection).
    QueryDef(
      "x35_sel_time",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val store = zarrPath("x35", dir)
        xds.assignCoords("t", timeCoord).toZarr(store)
        val back = XbeamDataset.fromZarr(s, store)
        def ns(iso: String): Long =
          java.time.Instant.parse(iso).getEpochSecond * 1000000000L
        TabularBridge.toDataFrame(
          back.sel("t", ns("2020-01-03T00:00:00Z"), ns("2020-01-20T00:00:00Z")))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t) AS ts
                FROM grid),
        sel AS (SELECT * FROM cal
                WHERE ts >= TIMESTAMP '2020-01-03 00:00:00'
                  AND ts <= TIMESTAMP '2020-01-20 00:00:00')
        SELECT t - (SELECT min(t) FROM sel) AS t, x, uid, vf
        FROM sel ORDER BY t, x""")),

    // ---------------------------------------------------------------- x36
    // Running max/min along t (xarray cummax/cummin), FUSED: one scan
    // carries a stacked (min, max) sliver per lane — one shuffle and no
    // rejoin where composing cummax + cummin would scan twice and join.
    // Comparisons only, so values are bit-exact vs the oracle's
    // running-window MAX/MIN.
    QueryDef(
      "x36_cumminmax",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).cumminmax("t")).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               max(CAST(uid AS DOUBLE)) OVER w AS uid_cmax,
               max(vf) OVER w AS vf_cmax,
               min(CAST(uid AS DOUBLE)) OVER w AS uid_cmin,
               min(vf) OVER w AS vf_cmin
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x37
    // Backward fill along t (xarray bfill): x34 mirrored — the reverse
    // prefix scan, slivers carry each chunk's FIRST non-NaN per lane.
    // Oracle: first_value IGNORE NULLS over the FOLLOWING window;
    // positions after the last value stay NaN/NULL → sentinel.
    QueryDef(
      "x37_bfill",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val masked = gridXds(s, dir).mapBlocks(c => c.mapVars { (n, va) =>
          val m = if (n == "uid") 7.0 else 5.0
          VarArray(va.dims, va.arr.mapF64(v => if (v % m == 0) Double.NaN else v))
        })
        TabularBridge.toDataFrame(masked.bfill("t"))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        masked AS (
          SELECT t, x,
                 CASE WHEN uid % 7 = 0 THEN NULL ELSE CAST(uid AS DOUBLE) END AS uid,
                 CASE WHEN vf % 5 = 0 THEN NULL ELSE vf END AS vf
          FROM grid)
        SELECT t, x,
               coalesce(first_value(uid IGNORE NULLS) OVER w, -1.0) AS uid,
               coalesce(first_value(vf IGNORE NULLS) OVER w, -1.0) AS vf
        FROM masked
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x38
    // Linear interpolation across NaN runs along t (xarray
    // interpolate_na): NaNs injected on the x34 value pattern, then the
    // two-direction sliver scan (forward last-(value,index), reverse
    // first-(value,index)): both directions' seeds are folded on the
    // driver from one collect and broadcast, and each chunk fills its
    // lines in a narrow map, so chunk bodies never shuffle. The oracle
    // mirrors the exact expression pv + (nv-pv)*(t-pt)/(nt-pt) with
    // IGNORE NULLS edge windows, so values are bit-identical;
    // leading/trailing NaNs (one side missing) stay NULL → sentinel.
    QueryDef(
      "x38_interpolate_na",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val masked = gridXds(s, dir).mapBlocks(c => c.mapVars { (n, va) =>
          val m = if (n == "uid") 7.0 else 5.0
          VarArray(va.dims, va.arr.mapF64(v => if (v % m == 0) Double.NaN else v))
        })
        TabularBridge.toDataFrame(masked.interpolateNa("t"))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        masked AS (
          SELECT t, x,
                 CASE WHEN uid % 7 = 0 THEN NULL ELSE CAST(uid AS DOUBLE) END AS uid,
                 CASE WHEN vf % 5 = 0 THEN NULL ELSE vf END AS vf
          FROM grid),
        e AS (
          SELECT t, x, uid, vf,
                 last_value(uid IGNORE NULLS) OVER wp AS u_pv,
                 last_value(CASE WHEN uid IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wp AS u_pt,
                 first_value(uid IGNORE NULLS) OVER wf AS u_nv,
                 first_value(CASE WHEN uid IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wf AS u_nt,
                 last_value(vf IGNORE NULLS) OVER wp AS v_pv,
                 last_value(CASE WHEN vf IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wp AS v_pt,
                 first_value(vf IGNORE NULLS) OVER wf AS v_nv,
                 first_value(CASE WHEN vf IS NOT NULL THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wf AS v_nt
          FROM masked
          WINDOW wp AS (PARTITION BY x ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 wf AS (PARTITION BY x ORDER BY t
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        SELECT t, x,
               coalesce(CASE WHEN uid IS NOT NULL THEN uid
                             WHEN u_pv IS NOT NULL AND u_nv IS NOT NULL
                             THEN u_pv + (u_nv - u_pv) * (CAST(t AS DOUBLE) - u_pt) / (u_nt - u_pt)
                        END, -1.0) AS uid,
               coalesce(CASE WHEN vf IS NOT NULL THEN vf
                             WHEN v_pv IS NOT NULL AND v_nv IS NOT NULL
                             THEN v_pv + (v_nv - v_pv) * (CAST(t AS DOUBLE) - v_pt) / (v_nt - v_pt)
                        END, -1.0) AS vf
        FROM e ORDER BY t, x""")),

    // ---------------------------------------------------------------- x39
    // Calendar resample (xarray resample(time='1M').mean()): the t axis
    // gets a datetime64 coord (25h steps walk through month boundaries
    // mid-chunk), resampleMean buckets each position by its month ON
    // THE DRIVER from the coord, chunks reduce their bucket runs
    // locally, and one shuffle of (sum, count) partials builds the
    // per-month mean — the output t axis has one position per month.
    // Integer-valued sums keep the division bit-exact.
    QueryDef(
      "x39_resample",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val withCoord = xds.assignCoords("t", timeCoord)
        TabularBridge.toDataFrame(withCoord.resampleMean("t", "month"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       date_trunc('month',
                         TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t)) AS mo
                FROM grid),
        g AS (SELECT mo, x, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
                     sum(vf) / count(*) AS vf
              FROM cal GROUP BY mo, x)
        SELECT CAST(dense_rank() OVER (ORDER BY mo) - 1 AS BIGINT) AS t,
               x, uid, vf
        FROM g ORDER BY t, x""")),

    // ---------------------------------------------------------------- x47
    // Monthly MAX resample (the canonical climate downsample, e.g.
    // monthly maximum temperature) — x39's bucket machinery with the
    // extreme reduction: comparisons only, so values are bit-exact at
    // any merge order.
    QueryDef(
      "x47_resample_max",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val withCoord = xds.assignCoords("t", timeCoord)
        TabularBridge.toDataFrame(withCoord.resampleReduce("t", "month", "max"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       date_trunc('month',
                         TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t)) AS mo
                FROM grid),
        g AS (SELECT mo, x, CAST(max(uid) AS DOUBLE) AS uid, max(vf) AS vf
              FROM cal GROUP BY mo, x)
        SELECT CAST(dense_rank() OVER (ORDER BY mo) - 1 AS BIGINT) AS t,
               x, uid, vf
        FROM g ORDER BY t, x""")),

    // ---------------------------------------------------------------- x40
    // Per-cell linear trend along t (xarray polyfit(deg=1) slope — the
    // secular-trend map): the shuffle carries 5-plane OLS partials
    // (n, Σt, Σt², Σv, Σtv); all five are exact integers here, the
    // oracle spells out the identical closed form, and the single
    // division is the only rounding on either engine.
    QueryDef(
      "x40_trend",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).trend("t")).orderBy("x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT x,
               (CAST(count(*) AS DOUBLE) * sum(CAST(t AS DOUBLE) * uid) - CAST(sum(t) AS DOUBLE) * sum(uid)) /
               (CAST(count(*) AS DOUBLE) * sum(CAST(t AS DOUBLE) * t) - CAST(sum(t) AS DOUBLE) * sum(t)) AS uid,
               (CAST(count(*) AS DOUBLE) * sum(CAST(t AS DOUBLE) * vf) - CAST(sum(t) AS DOUBLE) * sum(vf)) /
               (CAST(count(*) AS DOUBLE) * sum(CAST(t AS DOUBLE) * t) - CAST(sum(t) AS DOUBLE) * sum(t)) AS vf
        FROM grid GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x41
    // Rolling reductions beyond mean (xarray rolling().min()/.sum()):
    // the same halo exchange as x24 with the min and sum kernels,
    // window 7 over t — 6-element slivers cross the wire, never chunk
    // bodies. Oracle: SQL MIN/SUM over the trailing window.
    QueryDef(
      "x41_rolling_reduce",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.rolling("t", 7, "min"), "rmin")
          .join(frame(xds.rolling("t", 7, "sum"), "rsum"), Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               min(CAST(uid AS DOUBLE)) OVER w AS uid_rmin,
               min(vf) OVER w AS vf_rmin,
               sum(CAST(uid AS DOUBLE)) OVER w AS uid_rsum,
               sum(vf) OVER w AS vf_rsum
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x42
    // Value-binned mean (xarray groupby_bins(...).mean()): cells group
    // by which bin their vf value falls in ([lo, hi) edges, last bin
    // closed) and both variables mean over the grouped cells — the
    // groupby-by-VALUE counterpart to x09's groupby-by-position. Each
    // chunk ships nBins (sum, count) partials; integer-valued sums
    // keep the divisions bit-exact.
    QueryDef(
      "x42_groupby_bins",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).groupbyBinsMean("vf",
          Array(0.0, 100.0, 200.0, 300.0, 500.0))).orderBy("bin"),
      Some(s"""
        WITH $GRID_DUCK,
        binned AS (SELECT CASE WHEN vf >= 0 AND vf < 100 THEN 0
                               WHEN vf >= 100 AND vf < 200 THEN 1
                               WHEN vf >= 200 AND vf < 300 THEN 2
                               WHEN vf >= 300 AND vf <= 500 THEN 3 END AS bin,
                          uid, vf
                   FROM grid)
        SELECT bin, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM binned WHERE bin IS NOT NULL
        GROUP BY bin ORDER BY bin""")),

    // ---------------------------------------------------------------- x70
    // groupby_bins with non-mean reductions (xarray groupby_bins(...)
    // .max()/.count()): same masked-partial shuffle as x42, different
    // accumulator kinds. Partials move, data never does.
    QueryDef(
      "x70_groupby_bins_reduce",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        val edges = Array(0.0, 100.0, 200.0, 300.0, 500.0)
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("bin"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.groupbyBinsReduce("vf", edges, "max"), "max")
          .join(frame(xds.groupbyBinsReduce("vf", edges, "count"), "cnt"),
            "bin")
          .orderBy("bin")
      },
      Some(s"""
        WITH $GRID_DUCK,
        binned AS (SELECT CASE WHEN vf >= 0 AND vf < 100 THEN 0
                               WHEN vf >= 100 AND vf < 200 THEN 1
                               WHEN vf >= 200 AND vf < 300 THEN 2
                               WHEN vf >= 300 AND vf <= 500 THEN 3 END AS bin,
                          uid, vf
                   FROM grid)
        SELECT bin,
               CAST(max(uid) AS DOUBLE) AS uid_max, max(vf) AS vf_max,
               CAST(count(*) AS DOUBLE) AS uid_cnt,
               CAST(count(*) AS DOUBLE) AS vf_cnt
        FROM binned WHERE bin IS NOT NULL
        GROUP BY bin ORDER BY bin""")),

    // ---------------------------------------------------------------- x71
    // Reflect pad (xarray pad(t=(3,2), mode="reflect")): the lane-edge
    // chunks mirror their own interior into the pad blocks — no fill
    // values, every output is an exact copy of a grid value. Oracle:
    // three UNIONed index maps (pad positions t' < 3 mirror t = 3 - t',
    // the tail mirrors t = 2·T + 1 - t').
    QueryDef(
      "x71_pad_reflect",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).pad("t", 3, 2, mode = "reflect"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT t, x, CAST(uid AS DOUBLE) AS uid, vf FROM (
          SELECT 3 - t AS t, x, uid, vf FROM grid WHERE t BETWEEN 1 AND 3
          UNION ALL
          SELECT t + 3, x, uid, vf FROM grid
          UNION ALL
          SELECT 2 * (SELECT sz FROM n) + 1 - t, x, uid, vf FROM grid
          WHERE t BETWEEN (SELECT sz FROM n) - 3 AND (SELECT sz FROM n) - 2)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x72
    // Edge pad (xarray pad(t=(2,3), mode="edge")): the boundary slice
    // replicates outward. Oracle: the pad rows join the t=0 / t=T-1
    // rows per x.
    QueryDef(
      "x72_pad_edge",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).pad("t", 2, 3, mode = "edge"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT t, x, CAST(uid AS DOUBLE) AS uid, vf FROM (
          SELECT v.p AS t, x, uid, vf
          FROM grid, (VALUES (0), (1)) v(p) WHERE t = 0
          UNION ALL
          SELECT t + 2, x, uid, vf FROM grid
          UNION ALL
          SELECT (SELECT sz FROM n) + 2 + v.p, x, uid, vf
          FROM grid, (VALUES (0), (1), (2)) v(p)
          WHERE t = (SELECT sz FROM n) - 1)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x73
    // Quadratic polyfit per x-cell (xarray polyfit(t, deg=2)): one
    // keyed shuffle of 8 power/moment planes (S0..S4, V0..V2), then the
    // 3×3 normal system solves by first-row Cramer expansions. Every
    // sum is an exact integer (Σt⁴ < 2^53 through sf0.1), and the
    // oracle spells the IDENTICAL expression tree — the three divisions
    // are the only roundings on either engine, applied to bit-equal
    // operands. degree is positional: 0 ↔ t², 1 ↔ t, 2 ↔ constant.
    QueryDef(
      "x73_polyfit_quadratic",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).polyfit("t", 2)).orderBy("degree", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        sums AS (SELECT x,
          CAST(count(*) AS DOUBLE) AS s0,
          CAST(sum(t) AS DOUBLE) AS s1,
          sum(CAST(t AS DOUBLE) * t) AS s2,
          sum(CAST(t AS DOUBLE) * t * t) AS s3,
          sum(CAST(t AS DOUBLE) * t * t * t) AS s4,
          sum(CAST(uid AS DOUBLE)) AS u0,
          sum(CAST(t AS DOUBLE) * uid) AS u1,
          sum(CAST(t AS DOUBLE) * t * uid) AS u2,
          sum(vf) AS w0,
          sum(CAST(t AS DOUBLE) * vf) AS w1,
          sum(CAST(t AS DOUBLE) * t * vf) AS w2
          FROM grid GROUP BY x),
        dets AS (SELECT x, s0, s1, s2, s3, s4, u0, u1, u2, w0, w1, w2,
          s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * s3 - s2 * s2) AS det
          FROM sums)
        SELECT 0 AS degree, x,
          (s0 * (s2 * u2 - s3 * u1) - s1 * (s1 * u2 - s2 * u1) +
            u0 * (s1 * s3 - s2 * s2)) / det AS uid,
          (s0 * (s2 * w2 - s3 * w1) - s1 * (s1 * w2 - s2 * w1) +
            w0 * (s1 * s3 - s2 * s2)) / det AS vf
        FROM dets
        UNION ALL
        SELECT 1, x,
          (s0 * (u1 * s4 - u2 * s3) - u0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * u2 - u1 * s2)) / det,
          (s0 * (w1 * s4 - w2 * s3) - w0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * w2 - w1 * s2)) / det
        FROM dets
        UNION ALL
        SELECT 2, x,
          (u0 * (s2 * s4 - s3 * s3) - s1 * (u1 * s4 - s3 * u2) +
            s2 * (u1 * s3 - s2 * u2)) / det,
          (w0 * (s2 * s4 - s3 * s3) - s1 * (w1 * s4 - s3 * w2) +
            s2 * (w1 * s3 - s2 * w2)) / det
        FROM dets
        ORDER BY degree, x""")),

    // ---------------------------------------------------------------- x75
    // Quadratic detrend (polyfit + Horner polyval, the drift-removal
    // step): v − ((c₂·t + c₁)·t + c₀) per cell. The coefficient
    // expressions repeat x73's Cramer tree and the Horner evaluation
    // mirrors the kernel's exact order, so the whole pipeline stays
    // bit-identical across engines.
    QueryDef(
      "x75_detrend_quadratic",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).detrend("t", 2)).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        sums AS (SELECT x,
          CAST(count(*) AS DOUBLE) AS s0,
          CAST(sum(t) AS DOUBLE) AS s1,
          sum(CAST(t AS DOUBLE) * t) AS s2,
          sum(CAST(t AS DOUBLE) * t * t) AS s3,
          sum(CAST(t AS DOUBLE) * t * t * t) AS s4,
          sum(CAST(uid AS DOUBLE)) AS u0,
          sum(CAST(t AS DOUBLE) * uid) AS u1,
          sum(CAST(t AS DOUBLE) * t * uid) AS u2,
          sum(vf) AS w0,
          sum(CAST(t AS DOUBLE) * vf) AS w1,
          sum(CAST(t AS DOUBLE) * t * vf) AS w2
          FROM grid GROUP BY x),
        dets AS (SELECT *,
          s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * s3 - s2 * s2) AS det
          FROM sums),
        co AS (SELECT x,
          (s0 * (s2 * u2 - s3 * u1) - s1 * (s1 * u2 - s2 * u1) +
            u0 * (s1 * s3 - s2 * s2)) / det AS cu2,
          (s0 * (u1 * s4 - u2 * s3) - u0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * u2 - u1 * s2)) / det AS cu1,
          (u0 * (s2 * s4 - s3 * s3) - s1 * (u1 * s4 - s3 * u2) +
            s2 * (u1 * s3 - s2 * u2)) / det AS cu0,
          (s0 * (s2 * w2 - s3 * w1) - s1 * (s1 * w2 - s2 * w1) +
            w0 * (s1 * s3 - s2 * s2)) / det AS cv2,
          (s0 * (w1 * s4 - w2 * s3) - w0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * w2 - w1 * s2)) / det AS cv1,
          (w0 * (s2 * s4 - s3 * s3) - s1 * (w1 * s4 - s3 * w2) +
            s2 * (w1 * s3 - s2 * w2)) / det AS cv0
          FROM dets)
        SELECT g.t, g.x,
          CAST(g.uid AS DOUBLE) -
            ((co.cu2 * CAST(g.t AS DOUBLE) + co.cu1) * CAST(g.t AS DOUBLE)
              + co.cu0) AS uid,
          g.vf -
            ((co.cv2 * CAST(g.t AS DOUBLE) + co.cv1) * CAST(g.t AS DOUBLE)
              + co.cv0) AS vf
        FROM grid g JOIN co ON g.x = co.x
        ORDER BY g.t, g.x""")),

    // ---------------------------------------------------------------- x74
    // Membership mask (xarray isin): 1.0 where the value is in the
    // probe set, 0.0 otherwise — a pure narrow map, integer-exact.
    QueryDef(
      "x74_isin",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).isin(Set(1.0, 2.0, 3.0, 5.0, 8.0, 13.0, 21.0,
          34.0, 55.0, 89.0, 144.0, 233.0, 377.0)))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
          CASE WHEN uid IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377)
               THEN 1.0 ELSE 0.0 END AS uid,
          CASE WHEN vf IN (1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377)
               THEN 1.0 ELSE 0.0 END AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x43
    // z-score standardization over t (anomaly ÷ std — the feature
    // normalization step): two partial-reduction shuffles build mean
    // and std, both broadcast back over the grid; the full dataset
    // never reshuffles. The oracle mirrors the exact x22 population-std
    // expression and the x30 anomaly expression, so the one extra
    // division stays bit-identical.
    QueryDef(
      "x43_zscore",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).zscore(Set("t"))).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               (CAST(uid AS DOUBLE) - CAST(sum(uid) OVER w AS DOUBLE) / count(*) OVER w) /
               sqrt((sum(CAST(uid AS DOUBLE) * uid) OVER w - CAST(sum(uid) OVER w AS DOUBLE) * sum(uid) OVER w / count(*) OVER w) / count(*) OVER w) AS uid,
               (vf - sum(vf) OVER w / count(*) OVER w) /
               sqrt((sum(vf * vf) OVER w - sum(vf) OVER w * sum(vf) OVER w / count(*) OVER w) / count(*) OVER w) AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x44
    // Linear interp onto a new grid (xarray interp / regridding): the
    // t axis gets a float64 coordinate 0..n-1 and the dataset
    // re-samples at the n-1 midpoints t+0.5. Each target's bracketing
    // rows and weight resolve on the driver; source chunks ship only
    // the rows an output chunk needs (one bounded gather shuffle of
    // row slivers). Midpoint weights are exactly 0.5 and values are
    // integer-valued, so (1-w)·a + w·b is bit-exact vs the oracle.
    QueryDef(
      "x44_interp",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(_.toDouble))
        val withCoord = xds.assignCoords("t", coord)
        val targets = Array.tabulate(tSize - 1)(i => i + 0.5)
        TabularBridge.toDataFrame(withCoord.interpLinear("t", targets))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        nxt AS (SELECT t, x,
                       CAST(uid AS DOUBLE) AS u0, CAST(vf AS DOUBLE) AS v0,
                       lead(CAST(uid AS DOUBLE)) OVER w AS u1,
                       lead(CAST(vf AS DOUBLE)) OVER w AS v1
                FROM grid
                WINDOW w AS (PARTITION BY x ORDER BY t))
        SELECT t, x,
               (1 - 0.5) * u0 + 0.5 * u1 AS uid,
               (1 - 0.5) * v0 + 0.5 * v1 AS vf
        FROM nxt WHERE u1 IS NOT NULL
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x45
    // Reindex onto new labels (xarray reindex): 40 target labels — 16
    // present, then 16 missing (a WHOLE output chunk of misses, so the
    // driver-enumerated NaN filler path runs), then 8 present evens.
    // Present labels copy their rows through the bounded gather
    // shuffle; missing labels fill NaN (→ sentinel, as the oracle's
    // LEFT JOIN yields NULL).
    QueryDef(
      "x45_reindex",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(_.toDouble))
        val withCoord = xds.assignCoords("t", coord)
        val labels = Array.tabulate(40) { j =>
          if (j < 16) j.toDouble
          else if (j < 32) 10000.0 + j
          else ((j - 32) * 2).toDouble
        }
        TabularBridge.toDataFrame(withCoord.reindex("t", labels))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        tl AS (SELECT unnest(range(40)) AS j,
                      unnest(list_transform(range(40), j ->
                        CASE WHEN j < 16 THEN CAST(j AS DOUBLE)
                             WHEN j < 32 THEN 10000.0 + j
                             ELSE CAST((j - 32) * 2 AS DOUBLE) END)) AS label),
        xs AS (SELECT DISTINCT x FROM grid)
        SELECT tl.j AS t, xs.x,
               coalesce(CAST(g.uid AS DOUBLE), -1.0) AS uid,
               coalesce(g.vf, -1.0) AS vf
        FROM tl CROSS JOIN xs
        LEFT JOIN grid g ON CAST(g.t AS DOUBLE) = tl.label AND g.x = xs.x
        ORDER BY t, xs.x""")),

    // ---------------------------------------------------------------- x46
    // Trapezoidal integral along t against a NON-uniform coordinate
    // c[t] = t² (xarray integrate): a halo-1 exchange turns each
    // position into its interval's area chunk-locally, then the areas
    // sum through the ordinary partial shuffle. Δ[t-1] = 2t−1 is an
    // exact integer and (a+b)/2 an exact dyadic, so every partial is
    // an exact multiple of 0.5 — order-independent, bit-exact vs the
    // oracle's lag-window sum.
    QueryDef(
      "x46_integrate",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => i.toDouble * i))
        val withCoord = xds.assignCoords("t", coord)
        TabularBridge.toDataFrame(withCoord.integrate("t")).orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        d AS (SELECT x, t, CAST(uid AS DOUBLE) AS u, vf,
                     lag(CAST(uid AS DOUBLE)) OVER w AS pu,
                     lag(vf) OVER w AS pv
              FROM grid WINDOW w AS (PARTITION BY x ORDER BY t))
        SELECT x, sum((pu + u) / 2 * (2 * t - 1)) AS uid,
               sum((pv + vf) / 2 * (2 * t - 1)) AS vf
        FROM d WHERE t >= 1 GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x56
    // Derivative against the coordinate (xarray differentiate, numpy
    // gradient edge_order=1): central differences interior, one-sided
    // at the edges, over x46's quadratic coord c[t] = t². One
    // two-sided halo-1 exchange. Exactness: numerators are differences
    // of exact values and denominators exact integers (c[t+1]−c[t−1] =
    // 4t), so the single division rounds identically on both engines.
    QueryDef(
      "x56_differentiate",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => i.toDouble * i))
        val withCoord = xds.assignCoords("t", coord)
        TabularBridge.toDataFrame(withCoord.differentiate("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        d AS (SELECT x, t, CAST(uid AS DOUBLE) AS u, vf,
                     lag(CAST(uid AS DOUBLE)) OVER w AS pu,
                     lead(CAST(uid AS DOUBLE)) OVER w AS nu,
                     lag(vf) OVER w AS pv, lead(vf) OVER w AS nv,
                     max(t) OVER (PARTITION BY x) AS tmax
              FROM grid WINDOW w AS (PARTITION BY x ORDER BY t))
        SELECT t, x,
               CASE WHEN t = 0 THEN (nu - u) / 1
                    WHEN t = tmax THEN (u - pu) / (CAST(2 * t - 1 AS DOUBLE))
                    ELSE (nu - pu) / (CAST(4 * t AS DOUBLE)) END AS uid,
               CASE WHEN t = 0 THEN (nv - vf) / 1
                    WHEN t = tmax THEN (vf - pv) / (CAST(2 * t - 1 AS DOUBLE))
                    ELSE (nv - pv) / (CAST(4 * t AS DOUBLE)) END AS vf
        FROM d ORDER BY t, x""")),

    // ---------------------------------------------------------------- x48
    // Cumulative trapezoidal integral (xarray cumulative_integrate):
    // x46's per-interval areas fed through the x26 prefix scan — a
    // pure composition of the halo and scan primitives. Same quadratic
    // coord; dyadic-exact partials keep the running sums bit-exact.
    QueryDef(
      "x48_cumulative_integrate",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => i.toDouble * i))
        val withCoord = xds.assignCoords("t", coord)
        TabularBridge.toDataFrame(withCoord.cumulativeIntegrate("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        d AS (SELECT x, t, CAST(uid AS DOUBLE) AS u, vf,
                     lag(CAST(uid AS DOUBLE)) OVER w AS pu,
                     lag(vf) OVER w AS pv
              FROM grid WINDOW w AS (PARTITION BY x ORDER BY t)),
        a AS (SELECT x, t,
                     CASE WHEN t = 0 THEN 0.0 ELSE (pu + u) / 2 * (2 * t - 1) END AS au,
                     CASE WHEN t = 0 THEN 0.0 ELSE (pv + vf) / 2 * (2 * t - 1) END AS av
              FROM d)
        SELECT t, x,
               sum(au) OVER wc AS uid,
               sum(av) OVER wc AS vf
        FROM a
        WINDOW wc AS (PARTITION BY x ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x49
    // stack (t, x) → s (xarray stack, row-major): after rechunking x
    // to full extent (the precondition that makes every chunk's cells
    // contiguous in stacked order), flattening is pure metadata + a
    // per-chunk reshape over the same buffers — no shuffle. The
    // stacked index reproduces event_id exactly (s = t·50 + x), which
    // the oracle checks directly.
    QueryDef(
      "x49_stack",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).rechunk(Map("t" -> 16, "x" -> 50))
          .stack(Seq("t", "x"), "s")).orderBy("s"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t * 50 + x AS s, uid, vf FROM grid ORDER BY s""")),

    // ---------------------------------------------------------------- x50
    // The composed pipeline gate — four operators chained the way a
    // real climate job runs them: datetime-coordinate store → sel
    // (driver-resolved slice PUSHDOWN into the scan) → calendar
    // resample to monthly SUMS (bucket partials, one shuffle) →
    // anomaly vs the cross-month mean (broadcast zip, no reshuffle).
    // Monthly sums are exact integers, so the final mean-and-subtract
    // is the only division — bit-exact vs the oracle's window form.
    QueryDef(
      "x50_pipeline_composed",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val store = zarrPath("x50", dir)
        xds.assignCoords("t", timeCoord).toZarr(store)
        def ns(iso: String): Long =
          java.time.Instant.parse(iso).getEpochSecond * 1000000000L
        val out = XbeamDataset.fromZarr(s, store)
          .sel("t", ns("2020-01-10T00:00:00Z"), ns("2020-11-20T00:00:00Z"))
          .resampleReduce("t", "month", "sum")
          .anomaly(Set("t"))
        TabularBridge.toDataFrame(out).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t) AS ts
                FROM grid),
        sel AS (SELECT * FROM cal
                WHERE ts >= TIMESTAMP '2020-01-10 00:00:00'
                  AND ts <= TIMESTAMP '2020-11-20 00:00:00'),
        g AS (SELECT date_trunc('month', ts) AS mo, x,
                     CAST(sum(uid) AS DOUBLE) AS uid, sum(vf) AS vf
              FROM sel GROUP BY mo, x),
        r AS (SELECT CAST(dense_rank() OVER (ORDER BY mo) - 1 AS BIGINT) AS t,
                     x, uid, vf
              FROM g)
        SELECT t, x,
               uid - sum(uid) OVER w / count(*) OVER w AS uid,
               vf - sum(vf) OVER w / count(*) OVER w AS vf
        FROM r
        WINDOW w AS (PARTITION BY x)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x51
    // ffill with a gap limit (xarray ffill(limit=3)): x34's masked
    // data, but a fill only reaches 3 positions past its source — the
    // scan slivers carry (value, global index) pairs so chunks measure
    // gaps locally. Oracle: last_value IGNORE NULLS over a 3-PRECEDING
    // window (the window width IS the limit).
    QueryDef(
      "x51_ffill_limit",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val masked = gridXds(s, dir).mapBlocks(c => c.mapVars { (n, va) =>
          val m = if (n == "uid") 7.0 else 5.0
          VarArray(va.dims, va.arr.mapF64(v => if (v % m == 0) Double.NaN else v))
        })
        TabularBridge.toDataFrame(masked.ffill("t", limit = 3))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        masked AS (
          SELECT t, x,
                 CASE WHEN uid % 7 = 0 THEN NULL ELSE CAST(uid AS DOUBLE) END AS uid,
                 CASE WHEN vf % 5 = 0 THEN NULL ELSE vf END AS vf
          FROM grid)
        SELECT t, x,
               coalesce(last_value(uid IGNORE NULLS) OVER w, -1.0) AS uid,
               coalesce(last_value(vf IGNORE NULLS) OVER w, -1.0) AS vf
        FROM masked
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x52
    // bfill with a gap limit — x51 mirrored through the reverse scan:
    // a NaN position takes the nearest FOLLOWING value at most 3
    // positions ahead. Oracle: first_value IGNORE NULLS over a
    // 3-FOLLOWING window.
    QueryDef(
      "x52_bfill_limit",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val masked = gridXds(s, dir).mapBlocks(c => c.mapVars { (n, va) =>
          val m = if (n == "uid") 7.0 else 5.0
          VarArray(va.dims, va.arr.mapF64(v => if (v % m == 0) Double.NaN else v))
        })
        TabularBridge.toDataFrame(masked.bfill("t", limit = 3))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        masked AS (
          SELECT t, x,
                 CASE WHEN uid % 7 = 0 THEN NULL ELSE CAST(uid AS DOUBLE) END AS uid,
                 CASE WHEN vf % 5 = 0 THEN NULL ELSE vf END AS vf
          FROM grid)
        SELECT t, x,
               coalesce(first_value(uid IGNORE NULLS) OVER w, -1.0) AS uid,
               coalesce(first_value(vf IGNORE NULLS) OVER w, -1.0) AS vf
        FROM masked
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x53
    // Rolling variance/std along t (xarray rolling().var()/.std(),
    // population ddof=0): the same halo exchange as x41 with the
    // two-accumulator moment kernel, window 7. Exactness: vf is
    // integer-valued (<= 490) so Σv and Σv² are exact for any window
    // truncation, (Σv)²/c rounds identically on both engines, and a
    // zero-variance window cancels exactly — both sides compute the
    // literal expression (Σv² − (Σv)²/c)/c in the same order; sqrt is
    // IEEE correctly-rounded on both. uid (~1e18) would round in the
    // v² products, so the gate reduces vf only.
    QueryDef(
      "x53_rolling_std",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir).select(Set("vf"))
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col("vf").as(s"vf_$tag"))
        frame(xds.rolling("t", 7, "var"), "rvar")
          .join(frame(xds.rolling("t", 7, "std"), "rstd"), Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               (sum(vf * vf) OVER w - sum(vf) OVER w * sum(vf) OVER w
                  / CAST(count(*) OVER w AS DOUBLE))
                 / CAST(count(*) OVER w AS DOUBLE) AS vf_rvar,
               sqrt((sum(vf * vf) OVER w - sum(vf) OVER w * sum(vf) OVER w
                  / CAST(count(*) OVER w AS DOUBLE))
                 / CAST(count(*) OVER w AS DOUBLE)) AS vf_rstd
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x55
    // Rolling median along t (xarray rolling().median(), the despiking
    // filter): window 7 order statistic per position on the halo
    // exchange. Integer-valued vf keeps the mid (or the mean of the
    // two mids — an exact half) bit-identical to DuckDB's windowed
    // median.
    QueryDef(
      "x55_rolling_median",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        TabularBridge.toDataFrame(
            gridXds(s, dir).select(Set("vf")).rolling("t", 7, "median"))
          .select(col("t"), col("x"), col("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, median(vf) OVER w AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x54
    // Average-tie rank along t (xarray Dataset.rank(dim)): each cell's
    // 1-based rank among its x-lane's values, ties sharing the mean of
    // their positional ranks — the order-statistic transform (lanes
    // assemble once under the cellwise memory cap, rank lane-locally,
    // split back). Oracle: SQL rank() + (tie count − 1)/2; ranks are
    // integers/halves so both forms are exact. vf only (uid ~1e18
    // would round in the bridge's double view and could reorder).
    QueryDef(
      "x54_rank",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        TabularBridge.toDataFrame(gridXds(s, dir).select(Set("vf")).rank("t"))
          .select(col("t"), col("x"), col("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CAST(rank() OVER (PARTITION BY x ORDER BY vf) AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY x, vf) AS DOUBLE) - 1) / 2 AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x20
    // CF-packed variable decode: vf stores as int16 with scale_factor /
    // add_offset attrs (the ERA5-style packing xarray's decode_cf
    // unpacks on every open), and fromZarr transparently yields the
    // decoded float64 — stored*0.25 + (-2.0), exact in doubles. The
    // packing attrs are stamped post-write, as an external producer
    // would have written them.
    QueryDef(
      "x20_cf_packed_decode",
      (s, dir) => {
        import graft.sources.Zarr
        val store = zarrPath("x20", dir)
        val n: Long = t(s, dir, "events").count()
        val packed = t(s, dir, "events").selectExpr(
          s"event_id div $W AS t", s"event_id % $W AS x",
          "cast((floor(value) + 2) * 4 AS bigint) AS pv")
        TabularBridge.fromDataFrame(packed, s,
          dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("pv" -> DType.I16),
          chunks = Map("t" -> 16, "x" -> 16)).toZarr(store)
        Zarr.writeArrayMeta(store, "pv", Seq(n / W, W), Seq(16, 16),
          DType.I16, Seq("t", "x"), compressor = None,
          cfScale = Some((0.25, -2.0)))
        Zarr.consolidateMetadata(store)
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CAST((vf + 2) * 4 AS DOUBLE) * 0.25 + -2.0 AS pv
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x76
    // Pearson correlation of uid and vf over t (xarray xr.corr): one
    // keyed shuffle of six joint-moment partials per x-cell — the data
    // never reshuffles. Integer-valued inputs keep every moment exact
    // (max n·Σx² ≈ 3e12 ≪ 2^53 at sf0.1), and the oracle spells the
    // kernel's exact expression tree, so the one division and two
    // sqrts round identically on both engines.
    QueryDef(
      "x76_corr",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).corr("uid", "vf", Set("t"))).orderBy("x"),
      Some(s"""
        WITH $GRID_DUCK,
        m AS (SELECT x, CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(uid) AS DOUBLE) AS sx, sum(vf) AS sy,
                sum(CAST(uid AS DOUBLE) * vf) AS sxy,
                sum(CAST(uid AS DOUBLE) * uid) AS sxx,
                sum(vf * vf) AS syy
              FROM grid GROUP BY x)
        SELECT x, (n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
        FROM m ORDER BY x""")),

    // ---------------------------------------------------------------- x77
    // Sample covariance of uid and vf over t (xarray xr.cov, ddof=1):
    // the same six-moment shuffle as x76 with the closed form
    // (Σxy − Σx·Σy/n) / (n − 1) — one inner division then one outer,
    // both on bit-equal operands across engines.
    QueryDef(
      "x77_cov",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).cov("uid", "vf", Set("t"))).orderBy("x"),
      Some(s"""
        WITH $GRID_DUCK,
        m AS (SELECT x, CAST(count(*) AS DOUBLE) AS n,
                CAST(sum(uid) AS DOUBLE) AS sx, sum(vf) AS sy,
                sum(CAST(uid AS DOUBLE) * vf) AS sxy
              FROM grid GROUP BY x)
        SELECT x, (sxy - sx * sy / n) / (n - 1) AS cov
        FROM m ORDER BY x""")),

    // ---------------------------------------------------------------- x78
    // Generalized dot product over t (xarray xr.dot): a narrow
    // per-chunk multiply composed with the one-shuffle sum reduction.
    // Products and their sums are exact integers throughout.
    QueryDef(
      "x78_dot",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).dot("uid", "vf", Set("t"))).orderBy("x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT x, sum(CAST(uid AS DOUBLE) * vf) AS dot
        FROM grid GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x79
    // Circular pad (xarray pad(t=(3,2), mode="wrap")): the leading pad
    // copies the lane's LAST three positions, the trailing pad its
    // FIRST two — pad blocks are emitted by the opposite edge chunks
    // and the same single consolidation shuffle assembles the grid.
    QueryDef(
      "x79_pad_wrap",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).pad("t", 3, 2, mode = "wrap"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT t, x, CAST(uid AS DOUBLE) AS uid, vf FROM (
          SELECT t - (SELECT sz FROM n) + 3 AS t, x, uid, vf FROM grid
          WHERE t >= (SELECT sz FROM n) - 3
          UNION ALL
          SELECT t + 3, x, uid, vf FROM grid
          UNION ALL
          SELECT t + (SELECT sz FROM n) + 3, x, uid, vf FROM grid
          WHERE t < 2)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x80
    // Weighted sum + weighted std over x (xarray weighted(w).sum() /
    // .std() — completing the weighted family next to x33's mean):
    // per-chunk (Σw·v, Σw·v², Σw) partials, one keyed shuffle. The
    // weighted moments are exact integers (Σw·v² ≤ ~8e8), and the
    // oracle mirrors the kernel's q/w − μ² expression with its
    // clamp-at-0, so the divisions and sqrt round identically.
    QueryDef(
      "x80_weighted_sum_std",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        val w = NdArray.fromDoubles(DType.F64, Array(W.toInt),
          Array.tabulate(W.toInt)(i => (i + 1).toDouble))
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"),
            col("uid").as(s"uid_$tag"), col("vf").as(s"vf_$tag"))
        frame(xds.weightedSum(Set("x"), Map("x" -> w)), "sum")
          .join(frame(xds.weightedStd(Set("x"), Map("x" -> w)), "std"), "t")
          .orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
          sum(CAST(uid AS DOUBLE) * (x + 1)) AS uid_sum,
          sum(vf * (x + 1)) AS vf_sum,
          sqrt(greatest(
            sum(CAST(uid AS DOUBLE) * uid * (x + 1)) / sum(CAST(x + 1 AS DOUBLE))
              - (sum(CAST(uid AS DOUBLE) * (x + 1)) / sum(CAST(x + 1 AS DOUBLE)))
                * (sum(CAST(uid AS DOUBLE) * (x + 1)) / sum(CAST(x + 1 AS DOUBLE))),
            0)) AS uid_std,
          sqrt(greatest(
            sum(vf * vf * (x + 1)) / sum(CAST(x + 1 AS DOUBLE))
              - (sum(vf * (x + 1)) / sum(CAST(x + 1 AS DOUBLE)))
                * (sum(vf * (x + 1)) / sum(CAST(x + 1 AS DOUBLE))),
            0)) AS vf_std
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x81
    // Sort by a coordinate, descending (xarray sortby): the permutation
    // folds to plan-time metadata and lowers to reindex's label gather
    // — each output chunk pulls exactly the slices it needs in one
    // co-partitioned shuffle; no global sort ever runs. With the
    // ascending 0..n-1 coord, descending = reversal along t.
    QueryDef(
      "x81_sortby_desc",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(_.toDouble))
        val withCoord = xds.assignCoords("t", coord)
        TabularBridge.toDataFrame(withCoord.sortby("t", descending = true))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT (SELECT sz FROM n) - 1 - t AS t, x, uid, vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x82
    // The authenticated object-store WRITE path end-to-end: toZarr to an
    // s3:// URL against the in-process SigV4-verifying endpoint
    // (S3GateServer) — chunk blobs route through StagedWrites staging,
    // flush as signed multipart uploads (threshold forced to 4 KB so
    // shard-sized blobs genuinely multipart), then fromZarr re-reads the
    // store with signed ranged GETs over the v3 sharding index. Every
    // request is signature-verified server-side, so a hash-match here
    // proves the whole 100 TB deployment path: stage → sign → multipart
    // assemble → list → ranged re-read. Identity on the grid.
    QueryDef(
      "x82_s3_zarr_roundtrip",
      (s, dir) => {
        graft.sources.S3GateServer.install()
        val store = "s3://graft-gate/x82_" + new java.io.File(dir).getName
        // consolidate to {t:64} memory chunks first (one keyed shuffle)
        // so shards can be 64 deep: validation requires shards to
        // divide memory chunks (whole-shard writes, no races), and the
        // 4x-larger shard files cut the store's request count 4x —
        // exactly the chunks-into-shards sizing the 24.8 TB reference
        // corpus uses (BASELINE.md: ~1 MB chunks grouped into shards)
        // shards need 64 aligned rows; tiny fixtures write unsharded
        // the chunks-per-shard spelling (dataset.py:779-786): shards
        // default to the in-memory chunks {t:64, x:16}, inner zarr
        // chunks come out t:64/4=16 — same store layout as spelling
        // it zarrChunks={t:16} + zarrShards={t:64}, format auto-v3
        if (gridXds(s, dir).template.dimSizes("t") >= 64)
          gridXds(s, dir).rechunk(Map("t" -> 64, "x" -> 16))
            .toZarr(store, compressor = Some("zlib"),
              zarrChunksPerShard = Map("t" -> 4))
        else
          gridXds(s, dir).toZarr(store, zarrChunks = Map("t" -> 16),
            compressor = Some("zlib"), zarrFormat = 3)
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x83
    // stack → unstack roundtrip: flatten (t, x) into a single s index
    // (chunk-local reshape after aligning chunks to whole rows — x49's
    // forward path) then recover (t2, x2) from s by integer div/mod at
    // plan time. Identity on values; dims relabeled so the recovered
    // grid is provably derived from s, not carried through.
    QueryDef(
      "x83_stack_unstack",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).rechunk(Map("t" -> 16, "x" -> 50))
          .stack(Seq("t", "x"), "s")
          .unstack("s", "t2", "x2", W)
          ).orderBy("t2", "x2")
        .selectExpr("t2", "x2", "uid", "vf"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t AS t2, x AS x2, uid, vf FROM grid ORDER BY t2, x2""")),

    // ---------------------------------------------------------------- x84
    // Nearest-neighbor interp (xarray interp(method="nearest")): same
    // plan-time target resolution and bounded gather shuffle as x44,
    // but each target ships exactly ONE source row. Targets alternate
    // j+0.25 / j+0.75 so even outputs snap down to row j and odd ones
    // snap up to row j+1 — both rounding directions exercised, values
    // copied exactly (w = 0, no arithmetic).
    QueryDef(
      "x84_interp_nearest",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(_.toDouble))
        val withCoord = xds.assignCoords("t", coord)
        val targets = Array.tabulate(tSize - 1)(j =>
          j + (if (j % 2 == 0) 0.25 else 0.75))
        TabularBridge.toDataFrame(withCoord.interpNearest("t", targets))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid),
        tgt AS (SELECT j AS t, j + (j % 2) AS srct
                FROM (SELECT unnest(range((SELECT sz FROM n) - 1)) AS j))
        SELECT tgt.t AS t, g.x AS x, CAST(g.uid AS DOUBLE) AS uid, g.vf AS vf
        FROM tgt JOIN grid g ON g.t = tgt.srct
        ORDER BY tgt.t, g.x""")),

    // ---------------------------------------------------------------- x85
    // Rolling correlation + covariance of uid and vf along t (pandas
    // rolling(7).corr()/.cov()): six pairwise moments roll through ONE
    // halo exchange, the corr/cov closed forms fold per cell. All
    // operands are exact integers (uid ≤ 1.5e3, vf ≤ 561 → every
    // product and 7-term sum well under 2^53), so sqrt and the final
    // divisions see bit-equal inputs in both engines. Sub-minPeriods
    // (n < 2) and zero-variance windows are NaN — spelled out in the
    // oracle because DuckDB's x/0 on DOUBLE is NULL, not IEEE.
    QueryDef(
      "x85_rolling_corr",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        def frame(x: XbeamDataset, v: String, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col(v).as(tag))
        frame(xds.rollingCorr("t", 7, "uid", "vf"), "corr", "rc")
          .join(frame(xds.rollingCov("t", 7, "uid", "vf"), "cov", "rv"),
            Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        m AS (SELECT t, x,
                CAST(count(*) OVER w AS DOUBLE) AS n,
                CAST(sum(uid) OVER w AS DOUBLE) AS sx,
                sum(vf) OVER w AS sy,
                sum(CAST(uid AS DOUBLE) * vf) OVER w AS sxy,
                sum(CAST(uid AS DOUBLE) * uid) OVER w AS sxx,
                sum(vf * vf) OVER w AS syy
              FROM grid
              WINDOW w AS (PARTITION BY x ORDER BY t
                           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        SELECT t, x,
          CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
               THEN CAST('nan' AS DOUBLE)
               ELSE (n * sxy - sx * sy) /
                    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
          END AS rc,
          CASE WHEN n < 2 THEN CAST('nan' AS DOUBLE)
               ELSE (sxy - sx * sy / n) / (n - 1) END AS rv
        FROM m ORDER BY t, x""")),

    // ---------------------------------------------------------------- x86
    // reindex with fill methods + tolerance (xarray reindex(method=…,
    // tolerance=…) — the upsampling half of resample): targets between
    // every integer label at +0.2 (even positions) and +0.7 (odd).
    // nearest/tol 0.25 hits evens and voids odds (0.3 away); ffill
    // takes the floor everywhere; bfill/tol 0.35 hits odds (snapping
    // UP) and voids evens (0.8 away). The label→row map resolves
    // plan-time; data moves through the bounded reindex gather only.
    QueryDef(
      "x86_reindex_method",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(_.toDouble))
        val withCoord = xds.assignCoords("t", coord)
          .select(Set("vf"))
        val targets = Array.tabulate(2 * (tSize - 1))(k =>
          k / 2 + (if (k % 2 == 0) 0.2 else 0.7))
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col("vf").as(s"vf_$tag"))
        frame(withCoord.reindex("t", targets, "nearest", 0.25), "nr")
          .join(frame(withCoord.reindex("t", targets, "ffill"), "ff"),
            Seq("t", "x"))
          .join(frame(withCoord.reindex("t", targets, "bfill", 0.35), "bf"),
            Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid),
        tgt AS (SELECT k AS t, k // 2 AS j, k % 2 AS odd
                FROM (SELECT unnest(range(2 * ((SELECT sz FROM n) - 1))) AS k))
        SELECT tgt.t AS t, g.x AS x,
          CASE WHEN tgt.odd = 0 THEN g.vf ELSE CAST('nan' AS DOUBLE)
          END AS vf_nr,
          g.vf AS vf_ff,
          CASE WHEN tgt.odd = 1 THEN g2.vf ELSE CAST('nan' AS DOUBLE)
          END AS vf_bf
        FROM tgt
        JOIN grid g ON g.t = tgt.j
        JOIN grid g2 ON g2.t = tgt.j + 1 AND g2.x = g.x
        ORDER BY tgt.t, g.x""")),

    // ---------------------------------------------------------------- x87
    // Exponentially-weighted moving variance + std along t (pandas
    // ewm(alpha).var(bias=True)-style on the recursive unadjusted
    // weights): both moments ride ONE scan; Var = max(0, M2 − M1²).
    // Exactness bound: vf ≤ 560 → vf² < 2^19, and t < 30 keeps every
    // weighted term within a 50-bit span, so BOTH engines' sums are
    // exact dyadic rationals in any order (the x59 trick, one moment
    // higher); M1² then rounds identically, the clamp and sqrt fold
    // identically. greatest(0, …) mirrors the engine's epsilon clamp —
    // DuckDB errors on sqrt(negative).
    QueryDef(
      "x87_ewm_var",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val tBound = math.min(30L, gridXds(s, dir).template.dimSizes("t"))
        val xds = TabularBridge.fromDataFrame(
          gridDf(s, dir).filter(s"t < $tBound"), s,
          dims = Seq("t" -> tBound, "x" -> W),
          vars = Seq("vf" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col("vf").as(s"vf_$tag"))
        frame(xds.ewmVar("t", 0.5), "evar")
          .join(frame(xds.ewmStd("t", 0.5), "estd"), Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        g AS (SELECT t, x, vf FROM grid
              WHERE t < least(30, (SELECT max(t) + 1 FROM grid))),
        m AS (SELECT a.t, a.x,
                sum(b.vf * CASE WHEN b.t = 0
                  THEN 1.0 / CAST((CAST(1 AS BIGINT) << a.t) AS DOUBLE)
                  ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (a.t - b.t + 1)) AS DOUBLE)
                END) AS m1,
                sum(b.vf * b.vf * CASE WHEN b.t = 0
                  THEN 1.0 / CAST((CAST(1 AS BIGINT) << a.t) AS DOUBLE)
                  ELSE 1.0 / CAST((CAST(1 AS BIGINT) << (a.t - b.t + 1)) AS DOUBLE)
                END) AS m2
              FROM g a JOIN g b ON a.x = b.x AND b.t <= a.t
              GROUP BY a.t, a.x)
        SELECT t, x, greatest(0, m2 - m1 * m1) AS vf_evar,
               sqrt(greatest(0, m2 - m1 * m1)) AS vf_estd
        FROM m ORDER BY t, x""")),

    // ---------------------------------------------------------------- x88
    // Multi-store open + concat — the reference corpus's one-store-per-
    // period layout (ERA5 per-year shards) read as one dataset: the
    // grid's two t-spans are written to SEPARATE zarr stores, each
    // opened lazily with fromZarr, concatenated along t (a plan-time
    // key shift — chunk bodies don't move), then a window 3 rolling
    // sum runs ACROSS the store seam to prove adjacency, not just
    // unioned rows. The first span is chunk-aligned (16 | cut) so the
    // shifted chunks land on the combined grid.
    QueryDef(
      "x88_multistore_concat",
      (s, dir) => {
        val tSize = gridXds(s, dir).template.dimSizes("t")
        val cut = math.max(16L, tSize / 2 / 16 * 16)
        def half(lo: Long, hi: Long, tag: String) = {
          val ds = TabularBridge.fromDataFrame(
            gridDf(s, dir).filter(s"t >= $lo AND t < $hi")
              .selectExpr(s"t - $lo AS t", "x", "vf"), s,
            dims = Seq("t" -> (hi - lo), "x" -> W),
            vars = Seq("vf" -> DType.F64),
            chunks = Map("t" -> 16, "x" -> 16))
          val store = zarrPath(s"x88_$tag", dir)
          ds.toZarr(store)
          XbeamDataset.fromZarr(s, store)
        }
        val joined = half(0, cut, "a").concat(half(cut, tSize, "b"), "t")
        TabularBridge.toDataFrame(joined.rolling("t", 3, "sum"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, sum(vf) OVER (PARTITION BY x ORDER BY t
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x89
    // Outer align of two OVERLAPPING t-windows (xarray xr.align
    // join="outer"): the head 3/4 and the tail 3/4 of the grid carry
    // integer labels; the union label set resolves plan-time and both
    // sides reindex onto it — each fills NaN over the quarter it
    // doesn't cover, values land by LABEL (the tail side's rows shift
    // up by lo positions), data moves only through the bounded gather.
    QueryDef(
      "x89_align_outer",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val tSize = gridXds(s, dir).template.dimSizes("t")
        val lo = tSize / 4
        val hi = tSize - tSize / 4
        def part(from: Long, until: Long) = {
          val n = until - from
          val base = TabularBridge.fromDataFrame(
            gridDf(s, dir).filter(s"t >= $from AND t < $until")
              .selectExpr(s"t - $from AS t", "x", "vf"), s,
            dims = Seq("t" -> n, "x" -> W),
            vars = Seq("vf" -> DType.F64),
            chunks = Map("t" -> 16, "x" -> 16))
          val labels = NdArray.fromDoubles(DType.F64, Array(n.toInt),
            Array.tabulate(n.toInt)(i => (from + i).toDouble))
          base.assignCoords("t", labels)
        }
        val (a, b) = part(0, hi).align(part(lo, tSize), "t", "outer")
        def frame(x: XbeamDataset, tag: String) =
          TabularBridge.toDataFrame(x).select(col("t"), col("x"),
            col("vf").as(s"vf_$tag"))
        frame(a, "a").join(frame(b, "b"), Seq("t", "x")).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT g.t, g.x,
          CASE WHEN g.t < (SELECT sz - sz // 4 FROM n) THEN g.vf
               ELSE CAST('nan' AS DOUBLE) END AS vf_a,
          CASE WHEN g.t >= (SELECT sz // 4 FROM n) THEN g.vf
               ELSE CAST('nan' AS DOUBLE) END AS vf_b
        FROM grid g ORDER BY t, x""")),

    // ---------------------------------------------------------------- x90
    // Merge of disjoint-variable datasets (xarray xr.merge): uid and vf
    // split into separate single-var datasets, reunited by one
    // co-partitioned zip (variables concatenate per chunk — no
    // realignment, no data rewrite), then a keyed mean over x proves
    // both variables flow through the merged plan.
    QueryDef(
      "x90_merge",
      (s, dir) => {
        val xds = gridXds(s, dir)
        TabularBridge.toDataFrame(
          xds.select(Set("uid")).merge(xds.select(Set("vf")))
            .mean(Set("x"))).orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY t ORDER BY t""")),

    // ---------------------------------------------------------------- x91
    // Bilinear regrid = TWO composed 1-D linear interps (xarray
    // interp(t=…, x=…) — separable, exactly how a geo pipeline regrids
    // lat/lon): midpoint targets on both dims, so every output cell is
    // the 4-neighbor average. No new machinery — each pass is the x44
    // bounded gather; the oracle mirrors the composition tree
    // 0.5·(0.5·v₀₀+0.5·v₁₀) + 0.5·(0.5·v₀₁+0.5·v₁₁), exact on
    // half-weights over integer-valued vf.
    QueryDef(
      "x91_interp_bilinear",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val xSize = W.toInt
        def labels(n: Int) = NdArray.fromDoubles(DType.F64, Array(n),
          Array.tabulate(n)(_.toDouble))
        val withCoords = xds
          .assignCoords("t", labels(tSize))
          .assignCoords("x", labels(xSize))
          .select(Set("vf"))
        val tMid = Array.tabulate(tSize - 1)(_ + 0.5)
        val xMid = Array.tabulate(xSize - 1)(_ + 0.5)
        TabularBridge.toDataFrame(
          withCoords.interpLinear("t", tMid).interpLinear("x", xMid))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS szt, max(x) + 1 AS szx FROM grid),
        tj AS (SELECT unnest(range((SELECT szt FROM n) - 1)) AS j),
        xi AS (SELECT unnest(range((SELECT szx FROM n) - 1)) AS i)
        SELECT tj.j AS t, xi.i AS x,
               0.5 * (0.5 * g00.vf + 0.5 * g10.vf)
             + 0.5 * (0.5 * g01.vf + 0.5 * g11.vf) AS vf
        FROM tj CROSS JOIN xi
        JOIN grid g00 ON g00.t = tj.j     AND g00.x = xi.i
        JOIN grid g10 ON g10.t = tj.j + 1 AND g10.x = xi.i
        JOIN grid g01 ON g01.t = tj.j     AND g01.x = xi.i + 1
        JOIN grid g11 ON g11.t = tj.j + 1 AND g11.x = xi.i + 1
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x92
    // SPARSE re-read over the authenticated s3:// store: x82 proves the
    // dense roundtrip; this gate writes the same 64-deep sharded layout
    // and re-reads only a NON-chunk-aligned 21-row window mid-store —
    // the slice pushdown rewrites the scan region, and the adaptive
    // shard reader fetches RANGED signed GETs for the touched inner
    // chunks instead of whole shard blobs (the high-level.ipynb
    // chunks-in-shards read pattern against object storage).
    QueryDef(
      "x92_s3_ranged_reread",
      (s, dir) => {
        graft.sources.S3GateServer.install()
        val store = "s3://graft-gate/x92_" + new java.io.File(dir).getName
        val tSize = gridXds(s, dir).template.dimSizes("t")
        // shards need 64 aligned rows; tiny fixtures write unsharded
        if (tSize >= 64)
          gridXds(s, dir).rechunk(Map("t" -> 64, "x" -> 16))
            .toZarr(store, zarrChunks = Map("t" -> 16),
              compressor = Some("zlib"), zarrFormat = 3,
              zarrShards = Map("t" -> 64))
        else
          gridXds(s, dir).toZarr(store, zarrChunks = Map("t" -> 16),
            compressor = Some("zlib"), zarrFormat = 3)
        val start = math.min(70L, tSize / 2)
        val len = math.min(21L, tSize - start)
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).slice("t", start, len))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid),
        b AS (SELECT least(70, sz // 2) AS lo,
                     least(least(70, sz // 2) + 21, sz) AS hi FROM n)
        SELECT t - (SELECT lo FROM b) AS t, x, uid, vf FROM grid
        WHERE t >= (SELECT lo FROM b) AND t < (SELECT hi FROM b)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x93
    // Three-way dataset select (xarray xr.where(cond, a, b)): branch a
    // is vf, branch b its negation, the condition a SEPARATE dataset
    // (uid parity). ONE co-partitioned zip aligns all three sides; the
    // select is a narrow fold — no per-branch materialization, no
    // second shuffle.
    QueryDef(
      "x93_where_ds",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val a = xds.select(Set("vf"))
        val b = a.mapValues(v => -v)
        val cond = xds.select(Set("uid")).mapValues(v => v % 2.0)
        TabularBridge.toDataFrame(a.whereDs(cond, b, condVar = "uid"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, CASE WHEN uid % 2 = 1 THEN vf ELSE -vf END AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x94
    // coarsen(boundary="trim") over a RAGGED extent: factor 16 with
    // t=200 (sf0.01) leaves an 8-row tail that trim drops before the
    // per-chunk downsample — the trim is the narrow truncate (chunks
    // past the bound drop, the boundary chunk slices), so the whole
    // query still has only the grid-build shuffle. 16-integer window
    // means are exact dyadic divisions in both engines.
    QueryDef(
      "x94_coarsen_trim",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).coarsen(Map("t" -> 16), "mean", boundary = "trim"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT ((max(t) + 1) // 16) * 16 AS keep FROM grid)
        SELECT t // 16 AS t, x,
               CAST(sum(uid) AS DOUBLE) / 16 AS uid, sum(vf) / 16 AS vf
        FROM grid WHERE t < (SELECT keep FROM n)
        GROUP BY t // 16, x ORDER BY t, x""")),

    // ---------------------------------------------------------------- x95
    // groupby over a coordinate's distinct values (xarray
    // groupby(coord).mean() — the 'time.season' shape): the t axis
    // carries an INTERLEAVED int64 coord (t mod 7), which calendar
    // resample's contiguous-run contract cannot express; groups resolve
    // plan-time from the template coord, chunks reduce their runs
    // locally, and ONE shuffle of per-(chunk, group) partials builds
    // the 7-long output. Integer sums → exact means both engines.
    QueryDef(
      "x95_groupby_coord",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val seasons = NdArray.fromLongs(DType.I64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 7).toLong))
        val withCoord = xds.assignCoords("t", seasons)
        TabularBridge.toDataFrame(withCoord.groupbyCoordMean("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t % 7 AS t, x,
               CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY t % 7, x ORDER BY t, x""")),

    // ---------------------------------------------------------------- x96
    // Symmetric pad (xarray pad(t=(3,2), mode="symmetric")): mirror
    // INCLUDING the boundary sample — x71's reflect machinery with the
    // off-by-one source map (leading t' mirrors t = 2 - t', trailing
    // mirrors t = 2·T + 2 - t'). Every output is an exact grid copy.
    QueryDef(
      "x96_pad_symmetric",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).pad("t", 3, 2, mode = "symmetric"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) + 1 AS sz FROM grid)
        SELECT t, x, CAST(uid AS DOUBLE) AS uid, vf FROM (
          SELECT 2 - t AS t, x, uid, vf FROM grid WHERE t <= 2
          UNION ALL
          SELECT t + 3, x, uid, vf FROM grid
          UNION ALL
          SELECT 2 * (SELECT sz FROM n) + 2 - t, x, uid, vf FROM grid
          WHERE t >= (SELECT sz FROM n) - 2)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x97
    // thin / strided isel (xarray thin(t=4, x=7)): every 4th t row and
    // 7th x column survive, dtypes preserved. t's stride divides the
    // chunk (16) so that pass is SHUFFLE-FREE (outputs land on the
    // chunk/4 grid as-is); x's stride 7 doesn't divide 16, exercising
    // the consolidation realign. Outputs are exact copies of grid
    // values at (4t', 7x').
    QueryDef(
      "x97_thin",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).thin("t", 4).thin("x", 7))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t // 4 AS t, x // 7 AS x, uid, vf FROM grid
        WHERE t % 4 = 0 AND x % 7 = 0
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x98
    // Weekly resample (xarray resample(t="W-MON").sum() — ISO weeks
    // starting Monday): x47's calendar bucket machinery with the week
    // truncation, which DuckDB's date_trunc('week') mirrors exactly.
    // Integer-valued sums stay order-independent and bit-exact.
    QueryDef(
      "x98_resample_week",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val withCoord = xds.assignCoords("t", timeCoord)
        TabularBridge.toDataFrame(withCoord.resampleReduce("t", "week", "sum"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       date_trunc('week',
                         TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t)) AS wk
                FROM grid),
        g AS (SELECT wk, x, CAST(sum(uid) AS DOUBLE) AS uid, sum(vf) AS vf
              FROM cal GROUP BY wk, x)
        SELECT CAST(dense_rank() OVER (ORDER BY wk) - 1 AS BIGINT) AS t,
               x, uid, vf
        FROM g ORDER BY t, x""")),

    // ---------------------------------------------------------------- x99
    // groupby(coord).median (xarray groupby + exact order statistic):
    // x95's interleaved t-mod-7 groups, but medians need the group's
    // RAW values to meet — the shuffle ships group-run slices keyed by
    // (chunk, group) and one task per (x-chunk, group) cell sorts them.
    // Both engines interpolate the even-count midpoint (numpy linear ≡
    // DuckDB median): integer-valued inputs make every midpoint an
    // exact dyadic .0/.5.
    QueryDef(
      "x99_groupby_median",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val seasons = NdArray.fromLongs(DType.I64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 7).toLong))
        val withCoord = xds.assignCoords("t", seasons)
        TabularBridge.toDataFrame(withCoord.groupbyCoordMedian("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t % 7 AS t, x,
               median(uid) AS uid, median(vf) AS vf
        FROM grid GROUP BY t % 7, x ORDER BY t, x""")),

    // ---------------------------------------------------------------- x100
    // coarsen(boundary="pad") over a RAGGED extent: factor 16 with
    // t=200 (sf0.01) NaN-extends an 8-row tail to a full window, and
    // the skipna mean reduces the tail window over the 8 values
    // actually present — AVG's natural semantics in the oracle. Every
    // window mean divides an exact integer sum by 16 or 8 (dyadic).
    QueryDef(
      "x100_coarsen_pad",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).coarsen(Map("t" -> 16), "mean", boundary = "pad"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t // 16 AS t, x,
               CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM grid GROUP BY t // 16, x ORDER BY t, x""")),

    // ---------------------------------------------------------------- x101
    // Percentage rank (xarray rank(dim, pct=True)): x54's average-tie
    // rank divided by the lane's valid count — one extra division per
    // cell on bit-equal operands, so both engines round identically.
    QueryDef(
      "x101_rank_pct",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        TabularBridge.toDataFrame(
          gridXds(s, dir).select(Set("vf")).rank("t", pct = true))
          .select(col("t"), col("x"), col("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               (CAST(rank() OVER (PARTITION BY x ORDER BY vf) AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY x, vf) AS DOUBLE) - 1) / 2)
               / CAST(count(*) OVER (PARTITION BY x) AS DOUBLE) AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x102
    // Linear interp on a DATETIME coordinate (xarray interp(time=...,
    // method="linear") — resampling observations onto half-step
    // timestamps): x44's bounded gather, but bracketing and weights
    // resolve in exact LONG epoch-ns arithmetic (epoch ns exceed
    // double's 2^53 mantissa — a float64 detour would mis-bracket).
    // Midpoint targets make every weight exactly 0.5, so outputs are
    // dyadic midpoints both engines compute bit-equal.
    QueryDef(
      "x102_interp_time",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val withCoord = xds.assignCoords("t", timeCoord)
        val targets = Array.tabulate(tSize - 1)(i =>
          baseNs + i * stepNs + stepNs / 2)
        TabularBridge.toDataFrame(withCoord.interpLinear("t", targets))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        nxt AS (SELECT t, x,
                       CAST(uid AS DOUBLE) AS u0, CAST(vf AS DOUBLE) AS v0,
                       lead(CAST(uid AS DOUBLE)) OVER w AS u1,
                       lead(CAST(vf AS DOUBLE)) OVER w AS v1
                FROM grid
                WINDOW w AS (PARTITION BY x ORDER BY t))
        SELECT t, x,
               (1 - 0.5) * u0 + 0.5 * u1 AS uid,
               (1 - 0.5) * v0 + 0.5 * v1 AS vf
        FROM nxt WHERE u1 IS NOT NULL
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x103
    // drop_sel (xarray label-drop, the complement of sel): labels
    // {3, 7, 11} leave the t coordinate plan-time and the kept set
    // lowers to reindex's exact-label gather — one bounded shuffle, no
    // filter ever runs over data. Output keys re-origin densely (the
    // oracle's dense_rank).
    QueryDef(
      "x103_drop_sel",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val coord = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(_.toDouble))
        val withCoord = xds.assignCoords("t", coord)
        TabularBridge.toDataFrame(
          withCoord.dropSel("t", Array(3.0, 7.0, 11.0)))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        kept AS (SELECT * FROM grid WHERE t NOT IN (3, 7, 11))
        SELECT CAST(dense_rank() OVER (ORDER BY t) - 1 AS BIGINT) AS t,
               x, uid, vf
        FROM kept ORDER BY t, x""")),

    // ---------------------------------------------------------------- x104
    // Multi-dim rolling window, separable composition (xarray
    // rolling(t=3, x=3).sum()): the 3×3 rectangle sum is the t-pass
    // row-sums summed by the x-pass — two 1-D halo exchanges, each
    // moving only its own 2-sliver halos, never a 2-D neighborhood
    // shuffle. Truncated edge windows compose exactly for sum.
    QueryDef(
      "x104_rolling_2d",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).rollingNd(Map("t" -> 3, "x" -> 3), "sum"))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        r1 AS (SELECT t, x,
                      sum(CAST(uid AS DOUBLE)) OVER w AS u1,
                      sum(vf) OVER w AS v1
               FROM grid
               WINDOW w AS (PARTITION BY x ORDER BY t
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        SELECT t, x,
               sum(u1) OVER w2 AS uid, sum(v1) OVER w2 AS vf
        FROM r1
        WINDOW w2 AS (PARTITION BY t ORDER BY x
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x105
    // Grouped anomaly (xarray ds.groupby(coord) − .groupby(coord)
    // .mean() — de-seasonalization): x95's interleaved t-mod-7 groups;
    // one partial shuffle builds the 7 group means, they broadcast, and
    // every position subtracts its own group's mean chunk-locally — the
    // grid never reshuffles. The oracle spells the identical sum/count
    // division and subtraction, so doubles round the same way.
    QueryDef(
      "x105_groupby_anomaly",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val seasons = NdArray.fromLongs(DType.I64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 7).toLong))
        val withCoord = xds.assignCoords("t", seasons)
        TabularBridge.toDataFrame(withCoord.groupbyCoordAnomaly("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        gm AS (SELECT t % 7 AS g, x,
                      CAST(sum(uid) AS DOUBLE) / count(*) AS mu,
                      sum(vf) / count(*) AS mv
               FROM grid GROUP BY t % 7, x)
        SELECT t, grid.x AS x,
               CAST(uid AS DOUBLE) - mu AS uid, vf - mv AS vf
        FROM grid JOIN gm ON gm.g = grid.t % 7 AND gm.x = grid.x
        ORDER BY t, x""")),

    // ---------------------------------------------------------------- x106
    // reindex on DATETIME labels (xarray reindex(time=[...])): exact
    // alignment in long epoch-ns space — odd targets sit 1 ns off the
    // coordinate (a distinction DuckDB timestamps, µs-grained, cannot
    // even represent) and must MISS into the NaN fill, which a float64
    // label detour would wrongly hit (epoch ns round past 2^53). Even
    // targets gather their rows exactly.
    QueryDef(
      "x106_reindex_time",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, nanvl}
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val withCoord = xds.assignCoords("t", timeCoord)
        val targets = Array.tabulate(tSize)(j =>
          baseNs + j * stepNs + (if (j % 2 == 1) 1L else 0L))
        TabularBridge.toDataFrame(withCoord.reindex("t", targets))
          .select(col("t"), col("x"),
            nanvl(col("uid"), lit(-1.0)).as("uid"),
            nanvl(col("vf"), lit(-1.0)).as("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CASE WHEN t % 2 = 0 THEN CAST(uid AS DOUBLE) ELSE -1.0 END AS uid,
               CASE WHEN t % 2 = 0 THEN vf ELSE -1.0 END AS vf
        FROM grid ORDER BY t, x""")),

    // ---------------------------------------------------------------- x107
    // Virtual calendar groupby (xarray ds.groupby('time.hour').mean()):
    // timeField derives hour-of-day from the datetime coord PLAN-TIME
    // (pure metadata — chunks untouched) and the 25-hour step makes the
    // 24 hour groups fully interleaved (25 ≡ 1 mod 24), composing into
    // the one-partial-shuffle coordinate groupby. Integer sums → exact
    // means both engines.
    QueryDef(
      "x107_groupby_time_hour",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val withCoord = xds.assignCoords("t", timeCoord)
        TabularBridge.toDataFrame(
          withCoord.timeField("t", "hour").groupbyCoordMean("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       hour(TIMESTAMP '2020-01-01 00:00:00'
                            + to_hours(25 * t)) AS hr
                FROM grid)
        SELECT CAST(hr AS BIGINT) AS t, x,
               CAST(sum(uid) AS DOUBLE) / count(*) AS uid,
               sum(vf) / count(*) AS vf
        FROM cal GROUP BY hr, x ORDER BY t, x""")),

    // ---------------------------------------------------------------- x108
    // idxmax over a DATETIME coordinate ("WHEN did each lane peak" —
    // the climate question idxmax exists for): x57's (value, index)
    // partial shuffle, but the winning index maps through the datetime
    // coord and the output KEEPS datetime64 — raw epoch ns as BIGINT
    // through the bridge, mirrored by pure integer arithmetic in the
    // oracle (ties break to the earliest time on both sides).
    QueryDef(
      "x108_idxmax_time",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds0 = gridXds(s, dir)
        val tSize = xds0.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val xds = xds0.assignCoords("t", timeCoord)
        TabularBridge.toDataFrame(xds.idxmax("t"))
          .select(col("x"), col("uid").as("uid_at_max"),
            col("vf").as("vf_at_max"))
          .orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        r AS (SELECT x, t,
                row_number() OVER (PARTITION BY x ORDER BY uid DESC, t ASC) AS ru,
                row_number() OVER (PARTITION BY x ORDER BY vf DESC, t ASC) AS rv
              FROM grid)
        SELECT x,
               max(CASE WHEN ru = 1
                   THEN 1577836800000000000 + t * 90000000000000 END) AS uid_at_max,
               max(CASE WHEN rv = 1
                   THEN 1577836800000000000 + t * 90000000000000 END) AS vf_at_max
        FROM r GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- s08
    // Stream FROM the array store (the backfill/replay pattern — an
    // archive zarr store feeds the same streaming pipelines a live
    // source does): the DataSourceV2 connector's MicroBatchStream
    // serves the store 4 chunks per micro-batch under admission
    // control, a complete-mode streaming aggregation folds the batches,
    // and the final state must equal the batch aggregation regardless
    // of how the chunk log was sliced. Closes the loop with s07
    // (stream INTO the store).
    QueryDef(
      "s08_stream_from_zarr",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        val store = zarrPath("s08", dir)
        val xds = gridXds(s, dir)
        xds.toZarr(store)
        // scale the admission limit with the store: ~3 micro-batches at
        // any sf (each micro-batch costs ~0.5-1 s of scheduler overhead
        // in local mode — a fixed small limit would mean 125 batches at
        // sf0.1, and even 8 batches spent more time in the scheduler
        // than the data path); still always >= 2 batches, so the
        // rate-limited multi-batch admission path is what's exercised
        val nChunks = ((xds.template.dimSizes("t") + 15) / 16) * ((W + 15) / 16)
        val perTrigger = math.max(4L, (nChunks + 2) / 3)
        // complete-mode aggregate through the shared foreachBatch
        // parquet sink (each epoch overwrites `latest`; last wins) —
        // the same production sink shape as s01–s06/s11, retiring the
        // demo-only memory sink this gate last used
        graft.streaming.StreamOps.runToFileSink(s, "s08",
            graft.streaming.StreamOps.inputBytes(store), "complete") { ss =>
          val stream = ss.readStream.format("zarr")
            .option("maxChunksPerTrigger", perTrigger).load(store)
          stream.groupBy(col("x"))
            .agg(count(lit(1)).as("n"),
              sum(col("uid").cast("decimal(38,0)")).cast("double").as("sum_uid"),
              sum(col("vf")).as("sum_vf"))
        }.orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT x, count(*) AS n, CAST(sum(uid) AS DOUBLE) AS sum_uid,
               sum(vf) AS sum_vf
        FROM grid GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x109
    // zarr v3 crc32c checksum codec end-to-end (the v3 spec's checksum
    // codec, standard in sharded production stores): every chunk
    // carries 4 trailing LE crc32c bytes, verified on every read — a
    // flipped bit fails loudly instead of decoding silently wrong
    // (ZarrSpec proves the corruption path; this gate proves the
    // distributed write → re-read roundtrip under the codec).
    QueryDef(
      "x109_zarr_crc32c",
      (s, dir) => {
        val store = zarrPath("x109", dir)
        gridXds(s, dir).toZarr(store, compressor = Some("gzip+crc"),
          zarrFormat = 3)
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("vf")).head("t", 9))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, vf FROM grid WHERE t < 9 ORDER BY t, x""")),

    // ---------------------------------------------------------------- x110
    // zarr v3 standalone zstd codec end-to-end — zarr-python 3's common
    // default compressor (codecs=[bytes, zstd]), which the reference
    // opens transparently via zarr-python (zarr.py:72-96). Distributed
    // write with compressor="zstd" → distributed re-read; ZarrSpec
    // additionally proves the decode against a hand-built zstd chunk.
    QueryDef(
      "x110_zarr_v3_zstd",
      (s, dir) => {
        val store = zarrPath("x110", dir)
        gridXds(s, dir).toZarr(store, compressor = Some("zstd"),
          zarrFormat = 3)
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("vf")).tail("t", 8))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t - (SELECT max(t) - 7 FROM grid) AS t, x, vf FROM grid
        WHERE t >= (SELECT max(t) - 7 FROM grid) ORDER BY t, x""")),

    // ---------------------------------------------------------------- x111
    // Approximate quantile (median here) over dim t: the scale-safe
    // sketch sibling of the exact quantile family — exact per-cell
    // bounds, then merged equi-width histograms (64 bins; payload per
    // cell is O(bins), never the raw values). The sketch is
    // bit-deterministic (fixed bin edges + integer counts), so the
    // oracle reproduces the estimator exactly in SQL; the spec
    // additionally asserts |approx − exact| <= (max − min)/bins and
    // merge associativity across chunkings.
    QueryDef(
      "x111_approx_quantile",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).approxQuantile(0.5, Set("t"), bins = 64))
        .orderBy("x"),
      Some(s"""
        WITH $GRID_DUCK,
        v AS (SELECT x, 'uid' AS var, CAST(uid AS DOUBLE) AS val FROM grid
              UNION ALL SELECT x, 'vf', vf FROM grid),
        b AS (SELECT x, var, min(val) AS lo, max(val) AS hi,
                     count(*) AS n
              FROM v GROUP BY 1, 2),
        p AS (SELECT x, var, lo, hi, n, (hi - lo) / 64 AS w,
                     0.5e0 * (n - 1) AS h,
                     CAST(floor(0.5e0 * (n - 1)) AS BIGINT) AS k0,
                     LEAST(CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1, n - 1) AS k1
              FROM b),
        binned AS (
          SELECT v.x, v.var,
                 LEAST(CAST(floor((v.val - p.lo) / p.w) AS BIGINT), 63) AS bin,
                 count(*) AS cnt
          FROM v JOIN p USING (x, var) WHERE p.w > 0
          GROUP BY 1, 2, 3),
        cum AS (SELECT x, var, bin, cnt,
                       sum(cnt) OVER (PARTITION BY x, var ORDER BY bin) - cnt AS cb
                FROM binned),
        est AS (
          SELECT p.x, p.var, p.h, p.k0,
            max(CASE WHEN p.k0 >= c.cb AND p.k0 < c.cb + c.cnt
                 THEN p.lo + p.w * (c.bin + ((p.k0 - c.cb) + 0.5e0) / c.cnt) END) AS e0,
            max(CASE WHEN p.k1 >= c.cb AND p.k1 < c.cb + c.cnt
                 THEN p.lo + p.w * (c.bin + ((p.k1 - c.cb) + 0.5e0) / c.cnt) END) AS e1
          FROM p JOIN cum c USING (x, var)
          GROUP BY 1, 2, 3, 4),
        res AS (SELECT x, var, e0 + (h - k0) * (e1 - e0) AS val FROM est
                UNION ALL
                SELECT x, var, lo AS val FROM p WHERE w = 0)
        SELECT x,
               max(CASE WHEN var = 'uid' THEN val END) AS uid,
               max(CASE WHEN var = 'vf' THEN val END) AS vf
        FROM res GROUP BY x ORDER BY x""")),

    // ---------------------------------------------------------------- x112
    // Grouped approximate quantile (x99's scale-safe sibling): per
    // (interleaved group, cell) histogram-sketch median over the same
    // 7-group coordinate x99 uses. Exact per-group bounds build in
    // their own bucket-reduce jobs and broadcast; the histogram pass
    // ships 64 counts per (group, cell) — the group's raw values never
    // meet, unlike x99's slice shuffle. Same deterministic estimator as
    // x111, reproduced exactly by the oracle.
    QueryDef(
      "x112_groupby_approx_quantile",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val seasons = NdArray.fromLongs(DType.I64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 7).toLong))
        val withCoord = xds.assignCoords("t", seasons)
        TabularBridge.toDataFrame(
          withCoord.groupbyCoordApproxQuantile("t", 0.5, bins = 64))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        v AS (SELECT t % 7 AS g, x, 'uid' AS var, CAST(uid AS DOUBLE) AS val FROM grid
              UNION ALL SELECT t % 7, x, 'vf', vf FROM grid),
        b AS (SELECT g, x, var, min(val) AS lo, max(val) AS hi,
                     count(*) AS n
              FROM v GROUP BY 1, 2, 3),
        p AS (SELECT g, x, var, lo, hi, n, (hi - lo) / 64 AS w,
                     0.5e0 * (n - 1) AS h,
                     CAST(floor(0.5e0 * (n - 1)) AS BIGINT) AS k0,
                     LEAST(CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1, n - 1) AS k1
              FROM b),
        binned AS (
          SELECT v.g, v.x, v.var,
                 LEAST(CAST(floor((v.val - p.lo) / p.w) AS BIGINT), 63) AS bin,
                 count(*) AS cnt
          FROM v JOIN p USING (g, x, var) WHERE p.w > 0
          GROUP BY 1, 2, 3, 4),
        cum AS (SELECT g, x, var, bin, cnt,
                       sum(cnt) OVER (PARTITION BY g, x, var ORDER BY bin) - cnt AS cb
                FROM binned),
        est AS (
          SELECT p.g, p.x, p.var, p.h, p.k0,
            max(CASE WHEN p.k0 >= c.cb AND p.k0 < c.cb + c.cnt
                 THEN p.lo + p.w * (c.bin + ((p.k0 - c.cb) + 0.5e0) / c.cnt) END) AS e0,
            max(CASE WHEN p.k1 >= c.cb AND p.k1 < c.cb + c.cnt
                 THEN p.lo + p.w * (c.bin + ((p.k1 - c.cb) + 0.5e0) / c.cnt) END) AS e1
          FROM p JOIN cum c USING (g, x, var)
          GROUP BY 1, 2, 3, 4, 5),
        res AS (SELECT g, x, var, e0 + (h - k0) * (e1 - e0) AS val FROM est
                UNION ALL
                SELECT g, x, var, lo AS val FROM p WHERE w = 0)
        SELECT g AS t, x,
               max(CASE WHEN var = 'uid' THEN val END) AS uid,
               max(CASE WHEN var = 'vf' THEN val END) AS vf
        FROM res GROUP BY g, x ORDER BY t, x""")),

    // ---------------------------------------------------------------- x113
    // The archive-analytics composition: write a v3 zstd store, re-open
    // it, prune to ONE variable at the scan, and run the approx-quantile
    // sketch (p90 over x per t) — store codec, variable pushdown, the
    // bounds broadcast, and the histogram reduce all in one lineage.
    QueryDef(
      "x113_store_approx_quantile",
      (s, dir) => {
        val store = zarrPath("x113", dir)
        gridXds(s, dir).toZarr(store, compressor = Some("zstd"),
          zarrFormat = 3)
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).select(Set("vf"))
            .approxQuantile(0.9, Set("x"), bins = 32))
          .orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK,
        b AS (SELECT t, min(vf) AS lo, max(vf) AS hi, count(*) AS n
              FROM grid GROUP BY 1),
        p AS (SELECT t, lo, hi, n, (hi - lo) / 32 AS w,
                     0.9e0 * (n - 1) AS h,
                     CAST(floor(0.9e0 * (n - 1)) AS BIGINT) AS k0,
                     LEAST(CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1, n - 1) AS k1
              FROM b),
        binned AS (
          SELECT g.t, LEAST(CAST(floor((g.vf - p.lo) / p.w) AS BIGINT), 31) AS bin,
                 count(*) AS cnt
          FROM grid g JOIN p USING (t) WHERE p.w > 0
          GROUP BY 1, 2),
        cum AS (SELECT t, bin, cnt,
                       sum(cnt) OVER (PARTITION BY t ORDER BY bin) - cnt AS cb
                FROM binned),
        est AS (
          SELECT p.t, p.h, p.k0,
            max(CASE WHEN p.k0 >= c.cb AND p.k0 < c.cb + c.cnt
                 THEN p.lo + p.w * (c.bin + ((p.k0 - c.cb) + 0.5e0) / c.cnt) END) AS e0,
            max(CASE WHEN p.k1 >= c.cb AND p.k1 < c.cb + c.cnt
                 THEN p.lo + p.w * (c.bin + ((p.k1 - c.cb) + 0.5e0) / c.cnt) END) AS e1
          FROM p JOIN cum c USING (t)
          GROUP BY 1, 2, 3)
        SELECT t, e0 + (h - k0) * (e1 - e0) AS vf FROM est
        UNION ALL
        SELECT t, lo AS vf FROM p WHERE w = 0
        ORDER BY t""")),

    // --------------------------------------------------------------- x114
    // Chunk-stats zone maps end to end: toZarr(stats=true) records
    // per-write-unit min/max in the same pass as the data
    // (ChunkStats/ZarrStatsWrite), and the DSv2 scan prunes chunks on
    // the pushed DATA-variable predicate — parquet-style statistics
    // pruning the reference's chunk enumeration can't do
    // (core.py:544-670 plans every chunk regardless of predicate).
    // `ev` is monotone in C-order, so `ev >= 90th-percentile-threshold`
    // leaves ~1/10 of the chunks in planInputPartitions (plan-pinned in
    // ZarrStatsSpec/PlanShapeSpec); the predicate stays residual, so
    // chunk-granular pruning is exactly a superset cut and the result
    // matches the oracle row for row.
    QueryDef(
      "x114_zarr_stats_pruned_scan",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val store = zarrPath("x114", dir)
        TabularBridge.fromDataFrame(
          t(s, dir, "events").selectExpr(
            s"event_id div $W AS t", s"event_id % $W AS x",
            "CAST(event_id AS DOUBLE) AS ev"),
          s, dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("ev" -> DType.F64), chunks = Map("t" -> 16, "x" -> 16))
          .toZarr(store, stats = true)
        val k = n * 9 / 10
        s.read.format("zarr").load(store)
          .filter(col("ev") >= k.toDouble)
          .groupBy(col("t"))
          .agg(count(lit(1)).cast("long").as("n"), sum(col("ev")).as("sum_ev"))
          .orderBy(col("t"))
      },
      Some(s"""
        WITH g AS (SELECT event_id // $W AS t, CAST(event_id AS DOUBLE) AS ev
                   FROM events),
             k AS (SELECT 9 * count(*) // 10 AS k FROM events)
        SELECT t, count(*) AS n, sum(ev) AS sum_ev
        FROM g WHERE ev >= (SELECT k FROM k)
        GROUP BY t ORDER BY t""")),

    // --------------------------------------------------------------- x115
    // Coordinate-predicate chunk pruning on the SQL surface: a time
    // RANGE predicate on the `<dim>_coord` column prunes chunks at plan
    // time from the stored coordinate array — the SQL face of the chunk
    // engine's `sel` (x35) and of the reference's head/tail scan rewrite
    // (dataset.py:366-397), generalized to any stored coordinate. The
    // comparison runs in exact Long space (nanosecond timestamps sit
    // beyond 2^53 — plan-pinned nanosecond-exact in ZarrCoordPruneSpec);
    // the predicate stays residual, so rows are exact regardless of the
    // chunk-granular cut.
    QueryDef(
      "x115_zarr_coord_pruned_scan",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        val store = zarrPath("x115", dir)
        xds.assignCoords("t", timeCoord).toZarr(store)
        def ns(iso: String): Long =
          java.time.Instant.parse(iso).getEpochSecond * 1000000000L
        s.read.format("zarr").option("coords", "true").load(store)
          .filter(col("t_coord") >= ns("2020-01-03T00:00:00Z") &&
            col("t_coord") <= ns("2020-01-20T00:00:00Z"))
          .groupBy(col("t"))
          .agg(count(lit(1)).cast("long").as("n"), sum(col("vf")).as("sum_vf"))
          .orderBy(col("t"))
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, vf,
                       TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t) AS ts
                FROM grid)
        SELECT t, count(*) AS n, sum(vf) AS sum_vf
        FROM cal
        WHERE ts >= TIMESTAMP '2020-01-03 00:00:00'
          AND ts <= TIMESTAMP '2020-01-20 00:00:00'
        GROUP BY t ORDER BY t""")),

    // --------------------------------------------------------------- x116
    // Quantile interpolation methods (xarray `quantile(method=)`):
    // x28/x67 pin the default 'linear'; this pins 'nearest' — pure
    // order-statistic SELECTION at rank h = q*(m-1) with numpy's
    // half-tie rule (fraction > 0.5 takes the upper neighbour; an
    // exact .5 rounds to the EVEN index, i.e. upper when floor(h) is
    // odd), so the result is an actual data value and bit-exact
    // cross-engine with no interpolation arithmetic at all. Same
    // distributed shape as x67: one cell consolidation, one sort, both
    // qs from the same gather.
    QueryDef(
      "x116_quantile_nearest",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).quantiles(Seq(0.33, 0.77), Set("x"),
          method = "nearest")).orderBy("t"),
      Some(s"""
        WITH $GRID_DUCK,
        s AS (SELECT t, uid, vf,
                     row_number() OVER (PARTITION BY t ORDER BY uid) - 1 AS ru,
                     row_number() OVER (PARTITION BY t ORDER BY vf) - 1 AS rv,
                     count(*) OVER (PARTITION BY t) AS m
              FROM grid),
        k AS (SELECT t, m,
                     CASE WHEN 0.33e0*(m-1) - floor(0.33e0*(m-1)) > 0.5e0
                            OR (0.33e0*(m-1) - floor(0.33e0*(m-1)) = 0.5e0
                                AND CAST(floor(0.33e0*(m-1)) AS BIGINT) % 2 = 1)
                          THEN CAST(floor(0.33e0*(m-1)) AS BIGINT) + 1
                          ELSE CAST(floor(0.33e0*(m-1)) AS BIGINT) END AS k33,
                     CASE WHEN 0.77e0*(m-1) - floor(0.77e0*(m-1)) > 0.5e0
                            OR (0.77e0*(m-1) - floor(0.77e0*(m-1)) = 0.5e0
                                AND CAST(floor(0.77e0*(m-1)) AS BIGINT) % 2 = 1)
                          THEN CAST(floor(0.77e0*(m-1)) AS BIGINT) + 1
                          ELSE CAST(floor(0.77e0*(m-1)) AS BIGINT) END AS k77
              FROM (SELECT DISTINCT t, m FROM s)),
        j AS (SELECT s.t AS t, uid, vf, ru, rv, k33, k77
              FROM s JOIN k USING (t))
        SELECT t,
               max(CASE WHEN ru = k33 THEN CAST(uid AS DOUBLE) END) AS uid_q33,
               max(CASE WHEN ru = k77 THEN CAST(uid AS DOUBLE) END) AS uid_q77,
               max(CASE WHEN rv = k33 THEN vf END) AS vf_q33,
               max(CASE WHEN rv = k77 THEN vf END) AS vf_q77
        FROM j GROUP BY t ORDER BY t"""))
  )

  /** x117 appends to `defs` below (split keeps the Seq literal within
    * javac/scalac method-size comfort). */
  val defsTail: Seq[QueryDef] = Seq(
    // --------------------------------------------------------------- x117
    // Complete aggregate pushdown on the zarr connector: an ungrouped,
    // filterless COUNT(*)/MIN/MAX is answered from the store's dim
    // sizes and the chunk-stats sidecar at PLAN time — one partition,
    // one row, zero chunk reads (ZarrStatsSpec proves the same query
    // answers with every chunk file deleted). COUNT(*) is the dim
    // product, dim MAX is size-1, float MIN/MAX fold the per-unit
    // bounds (MAX only when the sidecar's hasNan flag is clear — Spark
    // orders NaN above every double). The reference enumerates and
    // reads every chunk for ANY question (core.py:544-670); this is
    // the payoff of stats-bearing consolidated metadata at 100 TB:
    // corpus-level accounting queries cost one metadata GET.
    QueryDef(
      "x117_zarr_agg_pushdown",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val store = zarrPath("x117", dir)
        TabularBridge.fromDataFrame(
          t(s, dir, "events").selectExpr(
            s"event_id div $W AS t", s"event_id % $W AS x",
            "CAST(event_id AS DOUBLE) AS ev"),
          s, dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("ev" -> DType.F64), chunks = Map("t" -> 16, "x" -> 16))
          .toZarr(store, stats = true)
        s.read.format("zarr").load(store)
          .agg(count(lit(1)).as("n"), min(col("ev")).as("mn"),
            max(col("ev")).as("mx"), max(col("t")).as("t_max"))
      },
      Some(s"""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(min(event_id) AS DOUBLE) AS mn,
               CAST(max(event_id) AS DOUBLE) AS mx,
               CAST(max(event_id) // $W AS BIGINT) AS t_max
        FROM events""")),

    // --------------------------------------------------------------- x118
    // Weight-mass approximate quantile (xarray weighted(w).quantile —
    // the cos-latitude-weighted statistic climate users run — made
    // scale-safe): per-cell weighted p75, where the estimate is the
    // value below which 75% of the total WEIGHT lies. Two
    // reduction-shaped passes (exact bounds, Σweight histograms), one
    // keyed shuffle of 32 doubles per cell; values and weights never
    // move. Integer-valued weights keep every sum exact, so the oracle
    // reproduces the estimator bit for bit (the x111 contract,
    // weighted).
    QueryDef(
      "x118_weighted_approx_quantile",
      (s, dir) => {
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        TabularBridge.toDataFrame(
          TabularBridge.fromDataFrame(
            t(s, dir, "events").selectExpr(
              s"event_id div $W AS t", s"event_id % $W AS x",
              "CAST(floor(value) AS DOUBLE) AS vf",
              "CAST(event_id % 5 + 1 AS DOUBLE) AS wt"),
            s, dims = Seq("t" -> n / W, "x" -> W),
            vars = Seq("vf" -> DType.F64, "wt" -> DType.F64),
            chunks = Map("t" -> 16, "x" -> 16))
            .approxWeightedQuantile(0.75, Set("x"), "wt", bins = 32))
          .orderBy("t")
      },
      Some(s"""
        WITH g AS (SELECT event_id // $W AS t,
                          CAST(floor(value) AS DOUBLE) AS vf,
                          CAST(event_id % 5 + 1 AS DOUBLE) AS wt
                   FROM events),
        b AS (SELECT t, min(vf) AS lo, max(vf) AS hi, sum(wt) AS wtot
              FROM g GROUP BY 1),
        p AS (SELECT t, lo, hi, wtot, (hi - lo) / 32 AS w,
                     0.75e0 * wtot AS h
              FROM b),
        binned AS (
          SELECT g.t, LEAST(CAST(floor((g.vf - p.lo) / p.w) AS BIGINT), 31) AS bin,
                 sum(g.wt) AS cnt
          FROM g JOIN p USING (t) WHERE p.w > 0
          GROUP BY 1, 2),
        cum AS (SELECT t, bin, cnt,
                       sum(cnt) OVER (PARTITION BY t ORDER BY bin) - cnt AS cb
                FROM binned),
        est AS (
          SELECT p.t,
                 max(CASE WHEN p.h > c.cb AND p.h <= c.cb + c.cnt
                     THEN p.lo + p.w * (c.bin + (p.h - c.cb) / c.cnt) END) AS vf
          FROM p JOIN cum c USING (t)
          GROUP BY 1)
        SELECT t, vf FROM est
        UNION ALL
        SELECT t, lo AS vf FROM p WHERE w = 0
        ORDER BY t""")),

    // --------------------------------------------------------------- x119
    // The SQL write surface: `df.write.format("zarr")` (V1-fallback
    // DSv2 write delegating to the bridge's one keyed shuffle + toZarr
    // region writes) round-trips through `spark.read.format("zarr")`
    // with predicate + column pushdown intact — a SQL user can now
    // produce AND consume stores without touching the typed API. The
    // reference's only write path is Python to_zarr (zarr.py:637-866);
    // this is its SQL face.
    QueryDef(
      "x119_zarr_sql_write",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val store = zarrPath("x119", dir)
        t(s, dir, "events").selectExpr(
          s"event_id div $W AS t", s"event_id % $W AS x",
          "user_id AS uid", "CAST(floor(value) AS DOUBLE) AS vf")
          .write.format("zarr").mode("overwrite")
          .option("dims", "t,x").option("chunks", "t=16,x=16")
          .save(store)
        s.read.format("zarr").load(store)
          .filter(col("t") < 25)
          .groupBy(col("t"))
          .agg(sum(col("vf")).as("sum_vf"),
            sum(col("uid")).as("sum_uid"),
            count(lit(1)).cast("long").as("n"))
          .orderBy(col("t"))
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, sum(vf) AS sum_vf,
               CAST(sum(CAST(uid AS HUGEINT)) AS BIGINT) AS sum_uid,
               count(*) AS n
        FROM grid WHERE t < 25 GROUP BY t ORDER BY t""")),

    // --------------------------------------------------------------- x120
    // drop_duplicates over a coordinate (xarray
    // `drop_duplicates(dim, keep="first")`): the t coordinate repeats
    // each label 3x (t div 3), so de-duplication keeps the first row of
    // every triple in original order. The kept POSITIONS resolve at
    // plan time from the template coordinate and lower to the same
    // bounded position-gather as sortby/reindex — one co-partitioned
    // shuffle, no data-dependent filtering.
    QueryDef(
      "x120_drop_duplicates",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val dupCoord = NdArray.fromLongs(DType.I64, Array(tSize),
          Array.tabulate(tSize)(i => (i / 3).toLong))
        val store = zarrPath("x120", dir)
        xds.assignCoords("t", dupCoord).toZarr(store)
        TabularBridge.toDataFrame(
          XbeamDataset.fromZarr(s, store).dropDuplicates("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t // 3 AS t, x, uid, vf
        FROM grid WHERE t % 3 = 0 ORDER BY t, x""")),

    // --------------------------------------------------------------- x121
    // Sliding-window materialization (xarray `rolling(t=3)
    // .construct("win")`): every dim-spanning variable gains a
    // trailing win dim of length 3 — [t, x, k] = value at t-2+k, NaN
    // for positions before the start. ONE halo exchange (2 trailing
    // rows per chunk boundary) and a chunk-local materialization; the
    // 3x output size is the operator's semantics. head(40) bounds the
    // dump and still spans three t-chunks of 16.
    QueryDef(
      "x121_rolling_construct",
      (s, dir) => {
        // extent min(40, actual): sparser sf dirs have fewer t rows
        // than the 40-row cap (the oracle's t < 40 matches either way)
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = math.min(40L, n / W)
        val g = TabularBridge.fromDataFrame(
          gridDf(s, dir).filter(s"t < $tExt"), s,
          dims = Seq("t" -> tExt, "x" -> W),
          vars = Seq("uid" -> DType.I64, "vf" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(g.rollingConstruct("t", 3, "win"))
          .orderBy("t", "x", "win")
      },
      Some(s"""
        WITH $GRID_DUCK,
        g AS (SELECT * FROM grid WHERE t < 40),
        k AS (SELECT unnest([0, 1, 2]) AS win)
        SELECT a.t, a.x, CAST(k.win AS BIGINT) AS win,
               coalesce(CAST(b.uid AS DOUBLE), CAST('nan' AS DOUBLE)) AS uid,
               coalesce(b.vf, CAST('nan' AS DOUBLE)) AS vf
        FROM g a CROSS JOIN k
        LEFT JOIN g b ON b.x = a.x AND b.t = a.t - 2 + k.win
        ORDER BY a.t, a.x, k.win""")),

    // --------------------------------------------------------------- x122
    // GROUPED aggregate pushdown on the zarr connector: GROUP BY over
    // dim columns with COUNT(*)/MIN/MAX over dim columns is pure grid
    // arithmetic — per-group count is the product of the non-grouped
    // dim sizes, a grouped dim's min/max the group value, a
    // non-grouped dim's 0/size-1 — and the result emits DISTRIBUTEDLY
    // over flat group ranges with zero chunk reads (ZarrStatsSpec
    // proves the same query answers with every chunk file deleted).
    // x117's ungrouped pushdown extended to the per-partition-key
    // accounting queries a 100 TB store sees daily.
    QueryDef(
      "x122_zarr_grouped_agg_pushdown",
      (s, dir) => {
        import org.apache.spark.sql.functions._
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val store = zarrPath("x122", dir)
        TabularBridge.fromDataFrame(
          t(s, dir, "events").selectExpr(
            s"event_id div $W AS t", s"event_id % $W AS x",
            "CAST(event_id AS DOUBLE) AS ev"),
          s, dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("ev" -> DType.F64), chunks = Map("t" -> 16, "x" -> 16))
          .toZarr(store)
        s.read.format("zarr").load(store)
          .groupBy(col("t"))
          .agg(count(lit(1)).as("n"), min(col("t")).as("t_min"),
            max(col("x")).as("x_max"))
          .orderBy(col("t"))
      },
      Some(s"""
        SELECT event_id // $W AS t,
               CAST(count(*) AS BIGINT) AS n,
               CAST(event_id // $W AS BIGINT) AS t_min,
               CAST(max(event_id % $W) AS BIGINT) AS x_max
        FROM events GROUP BY 1 ORDER BY 1""")),

    // --------------------------------------------------------------- x123
    // Fitted-polynomial evaluation (xarray `xr.polyval(coord,
    // ds.polyfit(...))`): the per-x quadratic least-squares fit
    // evaluated back at every t — the trend SURFACE x75's detrend
    // subtracts, with the identical Cramer-exact coefficients and the
    // identical highest-first Horner tree, so the oracle is x75's
    // minus the subtraction. Same plan too: one polyfit shuffle, then
    // a broadcast map — the dataset never reshuffles.
    QueryDef(
      "x123_polyval_quadratic",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).polyval("t", 2)).orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK,
        sums AS (SELECT x,
          CAST(count(*) AS DOUBLE) AS s0,
          CAST(sum(t) AS DOUBLE) AS s1,
          sum(CAST(t AS DOUBLE) * t) AS s2,
          sum(CAST(t AS DOUBLE) * t * t) AS s3,
          sum(CAST(t AS DOUBLE) * t * t * t) AS s4,
          sum(CAST(uid AS DOUBLE)) AS u0,
          sum(CAST(t AS DOUBLE) * uid) AS u1,
          sum(CAST(t AS DOUBLE) * t * uid) AS u2,
          sum(vf) AS w0,
          sum(CAST(t AS DOUBLE) * vf) AS w1,
          sum(CAST(t AS DOUBLE) * t * vf) AS w2
          FROM grid GROUP BY x),
        dets AS (SELECT *,
          s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * s3 - s2 * s2) AS det
          FROM sums),
        co AS (SELECT x,
          (s0 * (s2 * u2 - s3 * u1) - s1 * (s1 * u2 - s2 * u1) +
            u0 * (s1 * s3 - s2 * s2)) / det AS cu2,
          (s0 * (u1 * s4 - u2 * s3) - u0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * u2 - u1 * s2)) / det AS cu1,
          (u0 * (s2 * s4 - s3 * s3) - s1 * (u1 * s4 - s3 * u2) +
            s2 * (u1 * s3 - s2 * u2)) / det AS cu0,
          (s0 * (s2 * w2 - s3 * w1) - s1 * (s1 * w2 - s2 * w1) +
            w0 * (s1 * s3 - s2 * s2)) / det AS cv2,
          (s0 * (w1 * s4 - w2 * s3) - w0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * w2 - w1 * s2)) / det AS cv1,
          (w0 * (s2 * s4 - s3 * s3) - s1 * (w1 * s4 - s3 * w2) +
            s2 * (w1 * s3 - s2 * w2)) / det AS cv0
          FROM dets)
        SELECT g.t, g.x,
          (co.cu2 * CAST(g.t AS DOUBLE) + co.cu1) * CAST(g.t AS DOUBLE)
            + co.cu0 AS uid,
          (co.cv2 * CAST(g.t AS DOUBLE) + co.cv1) * CAST(g.t AS DOUBLE)
            + co.cv0 AS vf
        FROM grid g JOIN co ON g.x = co.x
        ORDER BY g.t, g.x""")),

    // --------------------------------------------------------------- x124
    // dropna (xarray `dropna(dim, how="any")`): NaNs are planted at
    // event_id % 997 == 0, so a t row survives iff none of its 50 x
    // cells hit a multiple of 997. The keep-set is DATA-dependent —
    // one narrow validity reduction (a Long per t position; values
    // never move) resolves it, then the same bounded position gather
    // as drop_duplicates rearranges the rows. uid stays BIGINT through
    // the dtype-preserving gather; the emitted t is the new dense
    // position index (the oracle's row_number over surviving t).
    QueryDef(
      "x124_dropna",
      (s, dir) => {
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val g = TabularBridge.fromDataFrame(
          t(s, dir, "events").selectExpr(
            s"event_id div $W AS t", s"event_id % $W AS x",
            "user_id AS uid",
            "CASE WHEN event_id % 997 = 0 THEN CAST('NaN' AS DOUBLE) " +
              "ELSE CAST(floor(value) AS DOUBLE) END AS vf"),
          s, dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("uid" -> DType.I64, "vf" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(g.dropna("t")).orderBy("t", "x")
      },
      Some(s"""
        WITH g2 AS (SELECT event_id // $W AS t, event_id % $W AS x,
                           user_id AS uid,
                           CASE WHEN event_id % 997 = 0 THEN CAST('nan' AS DOUBLE)
                                ELSE CAST(floor(value) AS DOUBLE) END AS vf
                    FROM events),
        bad AS (SELECT DISTINCT t FROM g2 WHERE isnan(vf)),
        keep AS (SELECT t, row_number() OVER (ORDER BY t) - 1 AS tn
                 FROM (SELECT DISTINCT t FROM g2
                       WHERE t NOT IN (SELECT t FROM bad)))
        SELECT k.tn AS t, g.x, g.uid, g.vf
        FROM g2 g JOIN keep k ON g.t = k.t
        ORDER BY k.tn, g.x""")),

    // --------------------------------------------------------------- x125
    // Concat along a NEW dim (xarray `concat([a, b, c], dim="run")` —
    // the ensemble workflow): three deterministic variants of the grid
    // stack into a leading run dim. Pure metadata rewrite + union:
    // member chunks keep their bytes (the leading-1 reshape is free)
    // and their keys gain a run offset — ZERO shuffle at any member
    // count. clip/where push every variable to F64, so the oracle
    // casts uid accordingly.
    QueryDef(
      "x125_concat_new_dim",
      (s, dir) => {
        val g = gridXds(s, dir)
        val stacked = XbeamDataset.concatNew("run", Seq(
          g.clip(-1e15, 1e15),   // identity within range, F64 vars
          g.clip(0, 1e15),       // clamps negatives to 0
          g.where(_ >= 10)))     // NaN below 10
        TabularBridge.toDataFrame(stacked).orderBy("run", "t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT run, t, x, uid, vf FROM (
          SELECT 0 AS run, t, x, CAST(uid AS DOUBLE) AS uid, vf FROM grid
          UNION ALL
          SELECT 1, t, x, greatest(CAST(uid AS DOUBLE), 0), greatest(vf, 0)
          FROM grid
          UNION ALL
          SELECT 2, t, x,
                 CASE WHEN uid >= 10 THEN CAST(uid AS DOUBLE)
                      ELSE CAST('nan' AS DOUBLE) END,
                 CASE WHEN vf >= 10 THEN vf
                      ELSE CAST('nan' AS DOUBLE) END
          FROM grid)
        ORDER BY run, t, x""")),

    // --------------------------------------------------------------- x127
    // set_index + sortby over a COMPUTED key (xarray
    // `ds.set_index(t="key").sortby("t")` — "order the dataset by a
    // derived per-row statistic", the analytics shape behind any
    // sort-by-score materialization): the per-t mean of vf (one keyed
    // reduction over x) merges back as a 1-D variable, setIndex
    // promotes it to the t coordinate (values gather driver-side,
    // bounded by the dim length — coords are template metadata by
    // design), and sortby's stable positional argsort reorders the
    // grid through the dtype-preserving gather. Ties (equal means)
    // keep source order = the oracle's ORDER BY k, t.
    QueryDef(
      "x127_set_index_sortby",
      (s, dir) => {
        // x is unchunked in the grid fixture, so the per-t mean is
        // chunk-local: mapBlocks attaches it as a 1-D variable
        val g = gridXds(s, dir).rechunk(Map("x" -> W.toInt))
        val keyed = g.mapBlocks { c =>
          val vf = c.vars("vf")
          val (sums, counts) = vf.arr.sumCount(Array(1), skipna = true)
          graft.core.ArrayChunk(c.vars +
            ("tkey" -> graft.core.VarArray(Seq("t"),
              sums.zipF64(counts)(_ / _))))
        }
        TabularBridge.toDataFrame(keyed.setIndex("tkey").sortby("t"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        key AS (SELECT t, avg(vf) AS k FROM grid GROUP BY t),
        ord AS (SELECT t, row_number() OVER (ORDER BY k, t) - 1 AS tn
                FROM key)
        SELECT o.tn AS t, g.x, g.uid, g.vf
        FROM grid g JOIN ord o ON g.t = o.t
        ORDER BY o.tn, g.x""")),

    // --------------------------------------------------------------- x128
    // Kernel-weighted trailing window (xarray's
    // `rolling(t, 4).construct("w").dot(weights)` idiom, fused as
    // convolve): a 4-tap kernel [0.25, 0.5, 1, 2] folds along t
    // through ONE halo exchange — the 4× construct view is never
    // materialized. The first 3 positions are NaN (construct's NaN
    // pads through the dot). Exact binary-fraction weights × integer-
    // valued operands → every product and 4-term sum is exact, and the
    // kernel's oldest-first accumulation matches the oracle's
    // left-to-right lag chain bit-for-bit.
    QueryDef(
      "x128_convolve",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).convolve("t", Array(0.25, 0.5, 1.0, 2.0)))
        .orderBy("t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
          CASE WHEN row_number() OVER w >= 4
               THEN 0.25 * lag(CAST(uid AS DOUBLE), 3) OVER w
                  + 0.5 * lag(CAST(uid AS DOUBLE), 2) OVER w
                  + 1.0 * lag(CAST(uid AS DOUBLE), 1) OVER w
                  + 2.0 * CAST(uid AS DOUBLE)
               ELSE CAST('nan' AS DOUBLE) END AS uid,
          CASE WHEN row_number() OVER w >= 4
               THEN 0.25 * lag(vf, 3) OVER w + 0.5 * lag(vf, 2) OVER w
                  + 1.0 * lag(vf, 1) OVER w + 2.0 * vf
               ELSE CAST('nan' AS DOUBLE) END AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t)
        ORDER BY t, x""")),

    // --------------------------------------------------------------- x129
    // astype dtype casts (xarray/numpy .astype): int64 uid promotes to
    // f64 (BIGINT → DOUBLE in the emitted schema), integer-valued vf
    // truncates to int64 (DOUBLE → BIGINT), and vf/7 — NOT f32-
    // representable — narrows through f32 and back out as DOUBLE, so
    // the round-to-nearest-float step is observable in the hash. All
    // chunk-local, no shuffle; both engines share IEEE semantics for
    // each cast.
    QueryDef(
      "x129_astype",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        val cast = xds.astype(Map("uid" -> DType.F64, "vf" -> DType.I64))
        val narrowed = xds.select(Set("vf")).mapValues(_ / 7)
          .astype(DType.F32)
        TabularBridge.toDataFrame(cast)
          .select(col("t"), col("x"), col("uid").as("uid_f64"),
            col("vf").as("vf_i64"))
          .join(TabularBridge.toDataFrame(narrowed)
            .select(col("t"), col("x"), col("vf").as("vf_f32")),
            Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
          CAST(uid AS DOUBLE) AS uid_f64,
          CAST(vf AS BIGINT) AS vf_i64,
          CAST(CAST(vf / 7 AS REAL) AS DOUBLE) AS vf_f32
        FROM grid ORDER BY t, x""")),

    // --------------------------------------------------------------- x130
    // any/all boolean reductions over x (xarray .any()/.all() — the
    // reductions numpy spells nanany/nanall): numpy truthiness (value
    // shifted by 42 so real zeros appear), folded as max/min of the
    // 0/1 mask through the same one-shuffle keyed reduction as sum.
    // Bool output emerges as BIGINT 0/1 on both engines.
    QueryDef(
      "x130_any_all",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val shifted = gridXds(s, dir).mapValues(_ - 42)
        val anyDf = TabularBridge.toDataFrame(shifted.any(Set("x")))
          .select(col("t"), col("uid").as("uid_any"), col("vf").as("vf_any"))
        val allDf = TabularBridge.toDataFrame(shifted.all(Set("x")))
          .select(col("t"), col("uid").as("uid_all"), col("vf").as("vf_all"))
        anyDf.join(allDf, Seq("t")).orderBy("t")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t,
          CAST(bool_or(uid <> 42) AS BIGINT) AS uid_any,
          CAST(bool_or(vf <> 42) AS BIGINT) AS vf_any,
          CAST(bool_and(uid <> 42) AS BIGINT) AS uid_all,
          CAST(bool_and(vf <> 42) AS BIGINT) AS vf_all
        FROM grid GROUP BY t ORDER BY t""")),

    // --------------------------------------------------------------- x126
    // Large-N scan stress: a 200,000-chunk store (t=400k / chunk t=2)
    // where only the LAST five chunks hold data — the regime the
    // reference shards key spaces for (core.py:554-555's
    // shard_keys_threshold). The store is metadata-only to set up
    // (O(1) blobs — setupStore never enumerates chunks) and the pushed
    // t-range predicate must prune 199,995 of the 200,000 keys at plan
    // time: the read plans 5 input partitions, never 200k tasks, and
    // stats come from the arithmetic per-dim path (no key enumeration).
    // ZarrDataSourceSpec pins the planned-partition count and planning
    // latency; a hash-match here proves enumeration + pruning + the
    // fill-value read path all hold at 100 TB chunk counts.
    QueryDef(
      "x126_scan_200k_chunks",
      (s, dir) => {
        import graft.core.{Template, VarSpec}
        import graft.sources.Zarr
        val store = zarrPath("x126", dir)
        graft.core.Fs.deleteRecursively(store)
        val tSize = 400000L
        val template = Template(Seq("t" -> tSize, "x" -> 8L),
          Map("uid" -> VarSpec(Seq("t", "x"), DType.I64),
            "vf" -> VarSpec(Seq("t", "x"), DType.F64)),
          Map.empty, Map.empty)
        Zarr.setupStore(store, template, Map("t" -> 2, "x" -> 8))
        val sm = Zarr.openStore(store)
        (0 until 5).foreach { k =>
          val t0 = tSize - 10 + k * 2
          Zarr.writeRegion(store, "uid", sm.arrays("uid"), Array(t0, 0L),
            NdArray.fromLongs(DType.I64, Array(2, 8),
              Array.tabulate(16)(i => (t0 + i / 8) * 8 + i % 8)))
          Zarr.writeRegion(store, "vf", sm.arrays("vf"), Array(t0, 0L),
            NdArray.fromDoubles(DType.F64, Array(2, 8),
              Array.tabulate(16)(i => (t0 + i / 8) + (i % 8) / 8.0)))
        }
        s.read.format("zarr").load(store)
          .filter(s"t >= ${tSize - 10}")
          .orderBy("t", "x")
      },
      Some("""
        SELECT t, x, t * 8 + x AS uid, t + x / 8.0 AS vf
        FROM (SELECT unnest(range(399990, 400000)) AS t),
             (SELECT unnest(range(8)) AS x)
        ORDER BY t, x""")),

    // --------------------------------------------------------------- x131
    // Wide-store stress: 300 variables (the ERA5-width regime — x126
    // stressed chunk COUNT, this stresses variable count). Only the two
    // selected variables ever hold data, and column pruning must reach
    // the store: the scan reads exactly v007/v123's chunk files and
    // never touches the other 298 (ZarrDataSourceSpec pins the pruned
    // ReadSchema; here the hash proves open → prune → read holds at
    // width). Setup is metadata-only for the unselected variables.
    QueryDef(
      "x131_wide_store",
      (s, dir) => {
        import graft.core.{Template, VarSpec}
        import graft.sources.Zarr
        val store = zarrPath("x131", dir)
        graft.core.Fs.deleteRecursively(store)
        val tSize = 64L
        val template = Template(Seq("t" -> tSize),
          (0 until 300).map(i => f"v$i%03d" -> VarSpec(Seq("t"), DType.F64))
            .toMap,
          Map.empty, Map.empty)
        Zarr.setupStore(store, template, Map("t" -> 16))
        val sm = Zarr.openStore(store)
        Seq("v007" -> ((t: Int) => t * 2.0),
            "v123" -> ((t: Int) => 1000.0 - t)).foreach { case (v, f) =>
          (0 until 4).foreach { k =>
            Zarr.writeRegion(store, v, sm.arrays(v), Array(k * 16L),
              NdArray.fromDoubles(DType.F64, Array(16),
                Array.tabulate(16)(i => f(k * 16 + i))))
          }
        }
        s.read.format("zarr").load(store)
          .select("t", "v007", "v123").orderBy("t")
      },
      Some("""
        SELECT t, CAST(t * 2 AS DOUBLE) AS v007,
               CAST(1000 - t AS DOUBLE) AS v123
        FROM (SELECT unnest(range(64)) AS t) ORDER BY t""")),

    // --------------------------------------------------------------- x132
    // Discovered-template sink (ChunksToZarr(template=None), the
    // reference's deprecated race-prone mode, zarr.py:741-751): raw
    // (key, chunk) pairs with NO template — discovery is a separate
    // metadata-only treeReduce job (a few dozen bytes per chunk, never
    // payloads), then the validated dataset writes through the normal
    // template'd sink and the store re-reads. Race-free where the
    // reference's side-input spelling wasn't; the hash proves pairs →
    // discover → setup → write → re-read is the identity.
    QueryDef(
      "x132_discovered_template",
      (s, dir) => {
        val pairs = gridXds(s, dir).chunkDataset
        val disc = XbeamDataset.fromPairsDiscovered(s, pairs)
        val store = zarrPath("x132", dir)
        graft.core.Fs.deleteRecursively(store)
        disc.toZarr(store, compressor = Some("zlib"))
        TabularBridge.toDataFrame(XbeamDataset.fromZarr(s, store))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, uid, vf FROM grid ORDER BY t, x""")),

    // --------------------------------------------------------------- x133
    // Rolling quantile along t (xarray rolling(t=7).quantile(0.25) —
    // the despiking filter generalized from x55's median to an
    // arbitrary order statistic): per window the numpy-linear
    // interpolation at q·(n−1), on the SAME single halo exchange as
    // every rolling op — the sort is window-local, only 6 trailing
    // rows cross the wire. q=0.25 over integer-valued vf keeps every
    // interpolation an exact quarter fraction of integers, so the
    // engine is bit-identical to DuckDB's windowed quantile_cont.
    QueryDef(
      "x133_rolling_quantile",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        TabularBridge.toDataFrame(
            gridXds(s, dir).select(Set("vf")).rollingQuantile("t", 7, 0.25))
          .select(col("t"), col("x"), col("vf"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x, quantile_cont(vf, 0.25) OVER w AS vf
        FROM grid
        WINDOW w AS (PARTITION BY x ORDER BY t
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY t, x""")),

    // --------------------------------------------------------------- x134
    // combine_first (xarray Dataset.combine_first): self wins where it
    // has a value, the other dataset fills the NaN holes — the gap-fill
    // idiom (observations patched from a model run). One co-partitioned
    // zip shuffle, the fill a narrow fold. Holes are every vf divisible
    // by 3; the fill side is the same field shifted down 1000, so every
    // filled cell is provably from the OTHER dataset.
    QueryDef(
      "x134_combine_first",
      (s, dir) => {
        val a = gridXds(s, dir).select(Set("vf")).where(v => v % 3.0 != 0.0)
        val b = gridXds(s, dir).select(Set("vf")).mapValues(v => v - 1000.0)
        TabularBridge.toDataFrame(a.combineFirst(b)).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT t, x,
               CASE WHEN vf % 3 != 0 THEN vf ELSE vf - 1000.0 END AS vf
        FROM grid ORDER BY t, x""")),

    // --------------------------------------------------------------- x135
    // Vector cross product (xr.cross along a size-3 component dim):
    // two 3-component vector fields built by ensemble-stacking derived
    // grids along a new "c" dim (x125's zero-shuffle concat), the
    // components consolidated into one chunk (c is 3 wide — always
    // unchunked in practice), then c = a × b chunk-locally after ONE
    // co-partitioned zip. Integer-valued vf keeps every product exact,
    // so the component formulas match DuckDB bit-for-bit.
    QueryDef(
      "x135_cross",
      (s, dir) => {
        val g = gridXds(s, dir).select(Set("vf"))
        def stack3(fs: Seq[Double => Double]) =
          XbeamDataset.concatNew("c", fs.map(f => g.mapValues(f)))
            .rechunk(Map("c" -> 3))
        val a = stack3(Seq(v => v + 1, v => v * 2, v => v - 3))
        val b = stack3(Seq(v => v - 2, v => v, v => v * 3))
        TabularBridge.toDataFrame(a.cross(b, "c")).orderBy("c", "t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK
        SELECT c, t, x, vf FROM (
          SELECT 0 AS c, t, x, (vf * 2) * (vf * 3) - (vf - 3) * vf AS vf
          FROM grid
          UNION ALL
          SELECT 1, t, x, (vf - 3) * (vf - 2) - (vf + 1) * (vf * 3)
          FROM grid
          UNION ALL
          SELECT 2, t, x, (vf + 1) * vf - (vf * 2) * (vf - 2)
          FROM grid)
        ORDER BY c, t, x""")),

    // --------------------------------------------------------------- x136
    // broadcast_like: the per-x t-mean (a (x,) dataset) tiles back over
    // the full (t, x) grid. The reduction is the ordinary one-shuffle
    // keyed mean; the broadcast itself is NARROW — each (x,) sliver
    // chunk flatMaps into one buffer-repeated copy per t-chunk, no
    // shuffle added (PlanShapeSpec pins it). Integer-valued vf makes
    // the mean sum exact, so sum/count matches DuckDB bit-for-bit.
    QueryDef(
      "x136_broadcast_like",
      (s, dir) => {
        val g = gridXds(s, dir).select(Set("vf"))
        TabularBridge.toDataFrame(g.mean(Set("t")).broadcastLike(g))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        mx AS (SELECT x, sum(vf) / count(*) AS vf FROM grid GROUP BY x)
        SELECT g.t, g.x, mx.vf
        FROM (SELECT DISTINCT t, x FROM grid) g JOIN mx USING (x)
        ORDER BY g.t, g.x""")),

    // --------------------------------------------------------------- x137
    // Resample UPSAMPLING (xarray resample(time="1D").ffill()): the
    // 25-hour-spaced series re-grids onto every day boundary inside
    // its range; each day forward-fills from the latest source row at
    // or before it. Targets resolve at plan time from the datetime
    // coordinate; the fill is reindex's bounded ffill gather, so uid
    // stays BIGINT (all labels resolve). Day k maps to source position
    // (24k)//25 exactly — the oracle states that arithmetic directly.
    QueryDef(
      "x137_resample_upsample",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        TabularBridge.toDataFrame(xds.assignCoords("t", timeCoord)
          .resampleUpsample("t", "day", "ffill")).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        ks AS (SELECT unnest(range(0,
                 (SELECT max(t) * 25 // 24 FROM grid) + 1)) AS k)
        SELECT ks.k AS t, g.x, g.uid, g.vf
        FROM ks JOIN grid g ON g.t = ks.k * 24 // 25
        ORDER BY t, g.x""")),

    // --------------------------------------------------------------- x138
    // Weighted quantile (xarray ds.weighted(w).quantile(0.5, dim="t"),
    // numpy's inverted-CDF — its only weighted estimator): per x, the
    // smallest value whose cumulative t-weight reaches half the total.
    // The weight vector w(t) = t%5+1 is plan-time metadata; the
    // reduction rides the same cell consolidation as quantile/median.
    // Integer-valued weights make every cumulative sum exact in any
    // accumulation order, so the SQL window CDF (RANGE frame: ties
    // share their full group weight, exactly the CDF the estimator
    // reads) reproduces the pick bit-for-bit.
    QueryDef(
      "x138_weighted_quantile",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val w = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 5 + 1).toDouble))
        TabularBridge.toDataFrame(
          xds.weightedQuantile(0.5, Set("t"), Map("t" -> w))).orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        g AS (SELECT t, x, uid, vf, CAST(t % 5 + 1 AS DOUBLE) AS wt
              FROM grid),
        u AS (SELECT x, CAST(min(uid) AS DOUBLE) AS uid FROM (
                SELECT x, uid, sum(wt) OVER (PARTITION BY x ORDER BY uid) AS cw,
                       sum(wt) OVER (PARTITION BY x) AS tw FROM g)
              WHERE cw >= 0.5 * tw GROUP BY x),
        v AS (SELECT x, min(vf) AS vf FROM (
                SELECT x, vf, sum(wt) OVER (PARTITION BY x ORDER BY vf) AS cw,
                       sum(wt) OVER (PARTITION BY x) AS tw FROM g)
              WHERE cw >= 0.5 * tw GROUP BY x)
        SELECT u.x, u.uid, v.vf FROM u JOIN v USING (x) ORDER BY x""")),

    // --------------------------------------------------------------- x139
    // Weighted OLS trend (xarray polyfit(dim, 1, w=...)'s slope with a
    // 1-D dim weight): x40's one-shuffle moment accumulator with every
    // plane weight-multiplied; the weight vector w(t) = t%3+1 is
    // plan-time metadata, broadcast once. Integer weights and values
    // keep all five sums exact, so the oracle mirrors the extract's
    // exact expression tree: (Sw*Swtv - Swt*Swv)/(Sw*Swt2 - Swt*Swt).
    QueryDef(
      "x139_weighted_trend",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val w = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 3 + 1).toDouble))
        TabularBridge.toDataFrame(xds.weightedTrend("t", w)).orderBy("x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        g AS (SELECT t, x, uid, vf, CAST(t % 3 + 1 AS DOUBLE) AS wt
              FROM grid)
        SELECT x,
               (sum(wt) * sum(wt * t * uid) - sum(wt * t) * sum(wt * uid)) /
               (sum(wt) * sum(wt * t * t) - sum(wt * t) * sum(wt * t)) AS uid,
               (sum(wt) * sum(wt * t * vf) - sum(wt * t) * sum(wt * vf)) /
               (sum(wt) * sum(wt * t * t) - sum(wt * t) * sum(wt * t)) AS vf
        FROM g GROUP BY x ORDER BY x""")),

    // --------------------------------------------------------------- x140
    // Calendar resample MEDIAN (xarray resample(time="1W").median() —
    // the order statistic resampleReduce's mergeable partials can't
    // express): x98's weekly buckets, but each bucket's RAW run meets
    // in the (chunk, group)-keyed shuffle of the groupbyCoord
    // order-statistic core after the datetime coordinate rewrites
    // plan-time to its week start. Integer values make every even-run
    // midpoint an exact dyadic .0/.5 (numpy linear ≡ DuckDB median).
    QueryDef(
      "x140_resample_median",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val baseNs = java.time.Instant.parse("2020-01-01T00:00:00Z")
          .getEpochSecond * 1000000000L
        val stepNs = 25L * 3600 * 1000000000L
        val timeCoord = NdArray.fromLongs(DType.TimeNs, Array(tSize),
          Array.tabulate(tSize)(i => baseNs + i * stepNs))
        TabularBridge.toDataFrame(xds.assignCoords("t", timeCoord)
          .resampleMedian("t", "week")).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        cal AS (SELECT t, x, uid, vf,
                       date_trunc('week',
                         TIMESTAMP '2020-01-01 00:00:00' + to_hours(25 * t)) AS wk
                FROM grid),
        g AS (SELECT wk, x, median(CAST(uid AS DOUBLE)) AS uid,
                     median(vf) AS vf
              FROM cal GROUP BY wk, x)
        SELECT CAST(dense_rank() OVER (ORDER BY wk) - 1 AS BIGINT) AS t,
               x, uid, vf
        FROM g ORDER BY t, x""")),

    // --------------------------------------------------------------- x141
    // Fancy positional indexing (xarray isel(dim=[...]) with an
    // integer array): position 5 twice, then every 3rd position in
    // DESCENDING order — repeats and reorders through the same
    // dtype-preserving resolved gather as sortby (one bounded shuffle
    // of row slivers, no global sort; uid stays BIGINT). The oracle
    // states the output-j -> source-t arithmetic directly.
    QueryDef(
      "x141_isel_fancy",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val every3 = (0L until tSize.toLong by 3).reverse.toArray
        TabularBridge.toDataFrame(
          xds.isel("t", Array(5L, 5L) ++ every3)).orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        n AS (SELECT max(t) // 3 + 1 AS cnt FROM grid),
        ks AS (SELECT unnest(range(0, (SELECT cnt FROM n) + 2)) AS j)
        SELECT ks.j AS t, g.x, g.uid, g.vf
        FROM ks JOIN grid g
          ON g.t = CASE WHEN ks.j < 2 THEN 5
                        ELSE ((SELECT cnt FROM n) - 1 - (ks.j - 2)) * 3 END
        ORDER BY t, g.x""")),

    // --------------------------------------------------------------- x142
    // Weighted quadratic polyfit (xarray polyfit(dim, 2, w=...)): x73's
    // Cramer extract over WEIGHTED power/moment sums S_k = sum(w t^k),
    // V_k = sum(w t^k v) — w(t) = t%4+1 is plan-time metadata,
    // broadcast once. Integer weights keep every sum exact, so the
    // oracle repeats the extract's exact cofactor tree over the
    // weighted sums and matches bit-for-bit.
    QueryDef(
      "x142_weighted_polyfit",
      (s, dir) => {
        val xds = gridXds(s, dir)
        val tSize = xds.template.dimSizes("t").toInt
        val w = NdArray.fromDoubles(DType.F64, Array(tSize),
          Array.tabulate(tSize)(i => (i % 4 + 1).toDouble))
        TabularBridge.toDataFrame(xds.weightedPolyfit("t", 2, w))
          .orderBy("degree", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        gw AS (SELECT t, x, uid, vf, CAST(t % 4 + 1 AS DOUBLE) AS wt
               FROM grid),
        sums AS (SELECT x,
          sum(wt) AS s0,
          sum(wt * t) AS s1,
          sum(wt * t * t) AS s2,
          sum(wt * t * t * t) AS s3,
          sum(wt * t * t * t * t) AS s4,
          sum(wt * uid) AS u0,
          sum(wt * t * uid) AS u1,
          sum(wt * t * t * uid) AS u2,
          sum(wt * vf) AS w0,
          sum(wt * t * vf) AS w1,
          sum(wt * t * t * vf) AS w2
          FROM gw GROUP BY x),
        dets AS (SELECT x, s0, s1, s2, s3, s4, u0, u1, u2, w0, w1, w2,
          s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * s3 - s2 * s2) AS det
          FROM sums)
        SELECT 0 AS degree, x,
          (s0 * (s2 * u2 - s3 * u1) - s1 * (s1 * u2 - s2 * u1) +
            u0 * (s1 * s3 - s2 * s2)) / det AS uid,
          (s0 * (s2 * w2 - s3 * w1) - s1 * (s1 * w2 - s2 * w1) +
            w0 * (s1 * s3 - s2 * s2)) / det AS vf
        FROM dets
        UNION ALL
        SELECT 1, x,
          (s0 * (u1 * s4 - u2 * s3) - u0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * u2 - u1 * s2)) / det,
          (s0 * (w1 * s4 - w2 * s3) - w0 * (s1 * s4 - s3 * s2) +
            s2 * (s1 * w2 - w1 * s2)) / det
        FROM dets
        UNION ALL
        SELECT 2, x,
          (u0 * (s2 * s4 - s3 * s3) - s1 * (u1 * s4 - s3 * u2) +
            s2 * (u1 * s3 - s2 * u2)) / det,
          (w0 * (s2 * s4 - s3 * s3) - s1 * (w1 * s4 - s3 * w2) +
            s2 * (w1 * s3 - s2 * w2)) / det
        FROM dets
        ORDER BY degree, x""")),

    // --------------------------------------------------------------- x143
    // to_dataarray (xarray Dataset.to_dataarray): the grid's two
    // variables stack along a new leading "variable" dim in sorted
    // name order (uid then vf), values promoted to float64 — a
    // ZERO-SHUFFLE metadata rewrite + union (concatNew) over
    // chunk-local casts.
    QueryDef(
      "x143_to_dataarray",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).toDataArray()).orderBy("variable", "t", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT v AS variable, t, x, value FROM (
          SELECT 0 AS v, t, x, CAST(uid AS DOUBLE) AS value FROM grid
          UNION ALL
          SELECT 1, t, x, vf FROM grid)
        ORDER BY variable, t, x""")),

    // --------------------------------------------------------------- x144
    // Multi-dim rolling mean/var/std (xarray rolling(t=3, x=2).mean()/
    // .var()/.std()): NOT separable as mean-of-means at truncated
    // edges, but the rectangle's MOMENTS are — Σx, Σx² and the valid
    // count each ride the two 1-D halo sum passes (x104's shape), and
    // one chunk-local fold divides at the end: mean = Σx/n,
    // var = Σx²/n − (Σx/n)² (population ddof 0), std = √var. Exactness:
    // uid ≤ 149 and vf ≤ 490 are integer-valued, so every nested
    // window sum is exact and both engines round the identical
    // divide/multiply/subtract tree the same way; the oracle mirrors
    // the engine's negative-variance clamp.
    QueryDef(
      "x144_rolling_2d_moments",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val xds = gridXds(s, dir)
        val win = Map("t" -> 3, "x" -> 2)
        val meanDf = TabularBridge.toDataFrame(xds.rollingNd(win, "mean"))
          .select(col("t"), col("x"),
            col("uid").as("uid_mean"), col("vf").as("vf_mean"))
        val vfOnly = xds.select(Set("vf"))
        def f(op: String, tag: String) =
          TabularBridge.toDataFrame(vfOnly.rollingNd(win, op))
            .select(col("t"), col("x"), col("vf").as(s"vf_$tag"))
        meanDf.join(f("var", "rvar"), Seq("t", "x"))
          .join(f("std", "rstd"), Seq("t", "x"))
          .orderBy("t", "x")
      },
      Some(s"""
        WITH $GRID_DUCK,
        r1 AS (SELECT t, x,
                 sum(CAST(uid AS DOUBLE)) OVER w AS su,
                 sum(vf) OVER w AS sv,
                 sum(vf * vf) OVER w AS sv2,
                 CAST(count(*) OVER w AS DOUBLE) AS c1
               FROM grid
               WINDOW w AS (PARTITION BY x ORDER BY t
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
        r2 AS (SELECT t, x,
                 sum(su) OVER w2 AS s1u, sum(sv) OVER w2 AS s1v,
                 sum(sv2) OVER w2 AS s2v, sum(c1) OVER w2 AS n
               FROM r1
               WINDOW w2 AS (PARTITION BY t ORDER BY x
                             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW))
        SELECT t, x,
               s1u / n AS uid_mean,
               s1v / n AS vf_mean,
               CASE WHEN s2v / n - (s1v / n) * (s1v / n) < 0 THEN 0.0
                    ELSE s2v / n - (s1v / n) * (s1v / n) END AS vf_rvar,
               sqrt(CASE WHEN s2v / n - (s1v / n) * (s1v / n) < 0 THEN 0.0
                    ELSE s2v / n - (s1v / n) * (s1v / n) END) AS vf_rstd
        FROM r2 ORDER BY t, x""")),

    // --------------------------------------------------------------- x145
    // Nonlinear curve fit y = a·exp(b·t) per x lane (xarray
    // Dataset.curvefit, the exponential decay model — the last gap on
    // the extended-xarray list): an iterative solver has no fixed-size
    // partial, so it rides the cell-consolidation shuffle (the exact-
    // quantile shape) and solves Levenberg–Marquardt cell-locally.
    // Oracle design: the series is CONSTRUCTED from events as
    // c_x·exp(-0.001·t) with c_x = 2 + x%5, so the zero-residual fit
    // must recover the planted parameters to ~1e-13 (log-linear seed
    // is already exact up to rounding); both sides round to 6 decimals
    // — a planted-parameter recovery oracle, not an expression-tree
    // mirror (no closed form exists for the solver's float path).
    QueryDef(
      "x145_curvefit_exp",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, round => sqlRound}
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val df = t(s, dir, "events").selectExpr(
          s"event_id div $W AS t", s"event_id % $W AS x",
          s"CAST(2 + (event_id % $W) % 5 AS DOUBLE) * " +
            s"exp(-0.001 * CAST(event_id div $W AS DOUBLE)) AS y")
        val xds = TabularBridge.fromDataFrame(df, s,
          dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("y" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(xds.curvefitExp("t"))
          .select(col("x"), sqlRound(col("y_cf_a"), 6).as("a"),
            sqlRound(col("y_cf_b"), 6).as("b"))
          .orderBy("x")
      },
      Some(s"""
        SELECT DISTINCT event_id % $W AS x,
               CAST(round(CAST(2 + (event_id % $W) % 5 AS DOUBLE), 6) AS DOUBLE) AS a,
               CAST(round(CAST(-0.001 AS DOUBLE), 6) AS DOUBLE) AS b
        FROM events ORDER BY x""")),

    // --------------------------------------------------------------- x146
    // coarsen(...).construct (xarray window-view reshape): t splits
    // into (tw, ti=7) where (o, i) holds t = o*7 + i — tiling windows,
    // NOT the w-times sliding blowup of rolling.construct. boundary=
    // trim drops the ragged tail via the narrow truncate; the reshape
    // is unstack's zero-shuffle metadata rewrite (the grid's t chunk
    // 16 is not a 7-multiple, so the gate also exercises the automatic
    // window-aligned rechunk).
    QueryDef(
      "x146_coarsen_construct",
      (s, dir) => TabularBridge.toDataFrame(
        gridXds(s, dir).coarsenConstruct("t", 7, "tw", "ti", "trim"))
        .orderBy("tw", "ti", "x"),
      Some(s"""
        WITH $GRID_DUCK
        SELECT t // 7 AS tw, t % 7 AS ti, x, uid, vf FROM grid
        WHERE t < (SELECT (max(t) + 1) // 7 * 7 FROM grid)
        ORDER BY tw, ti, x""")),

    // --------------------------------------------------------------- x147
    // Power-law curvefit y = a·(t+1)^b per x lane (xarray curvefit
    // with the Zipf model — frequency-vs-rank corpus fits): the
    // identity a·u^b = a·exp(b·ln u) lowers it to x145's exponential
    // solver over a log abscissa, so the cell-consolidation shuffle
    // and the planted-parameter round-6 oracle design carry over: the
    // series is c_x·(t+1)^(-0.25) with c_x = 2 + x%5, zero residual,
    // recovery to ~1e-12.
    QueryDef(
      "x147_curvefit_pow",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, round => sqlRound}
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val df = t(s, dir, "events").selectExpr(
          s"event_id div $W AS t", s"event_id % $W AS x",
          s"CAST(2 + (event_id % $W) % 5 AS DOUBLE) * " +
            s"power(CAST(event_id div $W AS DOUBLE) + 1.0, -0.25) AS y")
        val xds = TabularBridge.fromDataFrame(df, s,
          dims = Seq("t" -> n / W, "x" -> W),
          vars = Seq("y" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(xds.curvefitPow("t"))
          .select(col("x"), sqlRound(col("y_cf_a"), 6).as("a"),
            sqlRound(col("y_cf_b"), 6).as("b"))
          .orderBy("x")
      },
      Some(s"""
        SELECT DISTINCT event_id % $W AS x,
               CAST(round(CAST(2 + (event_id % $W) % 5 AS DOUBLE), 6) AS DOUBLE) AS a,
               CAST(round(CAST(-0.25 AS DOUBLE), 6) AS DOUBLE) AS b
        FROM events ORDER BY x""")),

    // --------------------------------------------------------------- x148
    // Logistic curvefit y = L/(1+exp(-k·(t-t0))) per x lane (xarray
    // curvefit with the classic sigmoid — saturation/adoption curves):
    // a 3-parameter Levenberg–Marquardt over the same cell-consolidated
    // shuffle as x145/x147, seeded by the logit-linear transform.
    // Planted parameters: L = 2 + x%5, k = 12/T, t0 = T/2 (T = the t
    // extent): the sigmoid argument spans [-6, +6] at EVERY scale
    // factor, so the series covers both tails (y from 0.0025·L to
    // 0.9975·L) and all three parameters stay identifiable — a fixed k
    // on the sf0.001 extent (T=20) would leave a near-linear segment
    // where (L, k, t0) are degenerate. Zero residual → recovery well
    // under the 6-decimal round on both engines; the oracle states the
    // planted values, deriving T from the same count (the 12/T
    // division is spelled identically on both sides, so the planted k
    // is the same IEEE double).
    QueryDef(
      "x148_curvefit_logistic",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, round => sqlRound}
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = n / W
        // The planted midpoint tExt/2 is an integer division; below 2
        // rows per column the curve degenerates and the gate would fail
        // as a confusing value mismatch instead of loudly here.
        require(tExt >= 2, s"x148 needs events rows >= ${2 * W} " +
          s"(t extent $tExt < 2 at this scale factor)")
        val df = t(s, dir, "events").selectExpr(
          s"event_id div $W AS t", s"event_id % $W AS x",
          s"CAST(2 + (event_id % $W) % 5 AS DOUBLE) / " +
            s"(1.0 + exp(-(12.0 / ${tExt}.0) * " +
            s"(CAST(event_id div $W AS DOUBLE) - ${tExt / 2}.0))) AS y")
        val xds = TabularBridge.fromDataFrame(df, s,
          dims = Seq("t" -> tExt, "x" -> W),
          vars = Seq("y" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(xds.curvefitLogistic("t"))
          .select(col("x"), sqlRound(col("y_cf_l"), 6).as("l"),
            sqlRound(col("y_cf_k"), 6).as("k"),
            sqlRound(col("y_cf_t0"), 6).as("t0"))
          .orderBy("x")
      },
      Some(s"""
        WITH ext AS (SELECT count(*) // $W AS T FROM events)
        SELECT DISTINCT event_id % $W AS x,
               CAST(round(CAST(2 + (event_id % $W) % 5 AS DOUBLE), 6) AS DOUBLE) AS l,
               CAST(round(12.0 / CAST((SELECT T FROM ext) AS DOUBLE), 6) AS DOUBLE) AS k,
               CAST(round(CAST((SELECT T // 2 FROM ext) AS DOUBLE), 6) AS DOUBLE) AS t0
        FROM events ORDER BY x""")),

    // --------------------------------------------------------------- x149
    // Gaussian-peak curvefit y = a·exp(-(t-mu)²/(2·sigma²)) per x lane
    // (xarray curvefit with the spectral/peak model — line fitting,
    // pulse timing): the third 3-parameter Levenberg–Marquardt over the
    // same cell-consolidated shuffle, seeded by the moment method.
    // Planted parameters scale with the t extent like x148: a = 2+x%5,
    // mu = T/2, sigma = T/10 — the peak sits mid-series with visible
    // tails at every scale factor. Zero residual → recovery well under
    // the 6-decimal round; planted values stated directly by the
    // oracle (T from the same count, identical integer divisions).
    QueryDef(
      "x149_curvefit_gaussian",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, round => sqlRound}
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = n / W
        // sigma is planted as tExt/10 (integer division): below 10 rows
        // per column it is 0 and the generator divides by zero (NaN/Inf
        // y) while the oracle states sigma=0 — fail loudly instead.
        require(tExt >= 10, s"x149 needs events rows >= ${10 * W} " +
          s"(t extent $tExt < 10 at this scale factor makes the " +
          "planted sigma = tExt/10 zero)")
        val df = t(s, dir, "events").selectExpr(
          s"event_id div $W AS t", s"event_id % $W AS x",
          s"CAST(2 + (event_id % $W) % 5 AS DOUBLE) * " +
            s"exp(-(CAST(event_id div $W AS DOUBLE) - ${tExt / 2}.0) * " +
            s"(CAST(event_id div $W AS DOUBLE) - ${tExt / 2}.0) / " +
            s"(2.0 * ${tExt / 10}.0 * ${tExt / 10}.0)) AS y")
        val xds = TabularBridge.fromDataFrame(df, s,
          dims = Seq("t" -> tExt, "x" -> W),
          vars = Seq("y" -> DType.F64),
          chunks = Map("t" -> 16, "x" -> 16))
        TabularBridge.toDataFrame(xds.curvefitGaussian("t"))
          .select(col("x"), sqlRound(col("y_cf_a"), 6).as("a"),
            sqlRound(col("y_cf_mu"), 6).as("mu"),
            sqlRound(col("y_cf_sigma"), 6).as("sigma"))
          .orderBy("x")
      },
      Some(s"""
        WITH ext AS (SELECT count(*) // $W AS T FROM events)
        SELECT DISTINCT event_id % $W AS x,
               CAST(round(CAST(2 + (event_id % $W) % 5 AS DOUBLE), 6) AS DOUBLE) AS a,
               CAST(round(CAST((SELECT T // 2 FROM ext) AS DOUBLE), 6) AS DOUBLE) AS mu,
               CAST(round(CAST((SELECT T // 10 FROM ext) AS DOUBLE), 6) AS DOUBLE) AS sigma
        FROM events ORDER BY x""")),

    // --------------------------------------------------------------- x150
    // Foreign-layout interop, driver-gated: a STOCK-xarray-shaped store
    // the engine could never have produced — CF-time coordinate (int64
    // hours-since-epoch + units attr) and a uint16 data variable packed
    // with CF scale/offset (the standard satellite layout) — written
    // here as literal .zarray/.zattrs/chunk bytes (our writer refuses
    // these encodings by design), then read back distributed through
    // the DSv2 connector. Values derive from indices alone, so the
    // oracle reproduces them in pure SQL. The fixture t-extent is
    // scale-capped at 512 (interop decode correctness, not volume, is
    // under test); chunked [64, 16] so multi-chunk reads + final-chunk
    // padding are exercised.
    QueryDef(
      "x150_cf_packed_interop",
      (s, dir) => {
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = math.min(512L, n / W).toInt
        require(tExt >= 1, s"x150 needs events rows >= $W")
        val xExt = 16
        val store = zarrPath("x150", dir)
        graft.core.Fs.deleteRecursively(store)
        val root = java.nio.file.Paths.get(store)
        java.nio.file.Files.createDirectories(root)
        java.nio.file.Files.write(root.resolve(".zgroup"),
          """{"zarr_format":2}""".getBytes("UTF-8"))
        // CF-time coordinate: int64 hours since 1979-01-01, value t*6
        val tdir = root.resolve("t")
        java.nio.file.Files.createDirectories(tdir)
        java.nio.file.Files.write(tdir.resolve(".zarray"),
          (s"""{"chunks":[$tExt],"compressor":null,"dtype":"<i8",""" +
            s""""fill_value":null,"filters":null,"order":"C",""" +
            s""""shape":[$tExt],"zarr_format":2}""").getBytes("UTF-8"))
        java.nio.file.Files.write(tdir.resolve(".zattrs"),
          ("""{"_ARRAY_DIMENSIONS":["t"],""" +
            """"units":"hours since 1979-01-01",""" +
            """"calendar":"proleptic_gregorian"}""").getBytes("UTF-8"))
        val tb = java.nio.ByteBuffer.allocate(tExt * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until tExt).foreach(t0 => tb.putLong(t0 * 6L))
        java.nio.file.Files.write(tdir.resolve("0"), tb.array())
        // packed uint16 variable: stored = (t*131 + x*17) % 65536,
        // decodes to stored * 0.01 - 50.0 float64
        val vdir = root.resolve("v")
        java.nio.file.Files.createDirectories(vdir)
        val tChunk = 64
        java.nio.file.Files.write(vdir.resolve(".zarray"),
          (s"""{"chunks":[$tChunk,$xExt],"compressor":null,"dtype":"<u2",""" +
            s""""fill_value":0,"filters":null,"order":"C",""" +
            s""""shape":[$tExt,$xExt],"zarr_format":2}""").getBytes("UTF-8"))
        java.nio.file.Files.write(vdir.resolve(".zattrs"),
          ("""{"_ARRAY_DIMENSIONS":["t","x"],""" +
            """"scale_factor":0.01,"add_offset":-50.0}""").getBytes("UTF-8"))
        val nChunks = (tExt + tChunk - 1) / tChunk
        (0 until nChunks).foreach { ci =>
          val cb = java.nio.ByteBuffer.allocate(tChunk * xExt * 2)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (0 until tChunk).foreach { lt =>
            val gt = ci * tChunk + lt
            (0 until xExt).foreach { x =>
              val v = if (gt < tExt) (gt * 131 + x * 17) % 65536 else 0
              cb.putShort(v.toShort)
            }
          }
          java.nio.file.Files.write(vdir.resolve(s"$ci.0"), cb.array())
        }
        s.read.format("zarr").option("coords", "true").load(store)
          .selectExpr("t", "x", "t_coord AS time_ns", "v")
          .orderBy("t", "x")
      },
      Some(s"""
        WITH n AS (SELECT LEAST(512, (SELECT count(*) FROM events) // $W) AS text)
        SELECT tt.i AS t, xx.i AS x,
               283996800000000000 + tt.i * 21600000000000 AS time_ns,
               ((tt.i * 131 + xx.i * 17) % 65536) * 0.01e0 + (-50.0e0) AS v
        FROM unnest(range((SELECT text FROM n))) tt(i),
             unnest(range(16)) xx(i)
        ORDER BY t, x""")),

    // --------------------------------------------------------------- x151
    // String-coordinate interop, driver-gated: a stock-xarray-shaped
    // store with a |S8 station-label coordinate (chunked, NUL-padded)
    // and a vlen-utf8 tag coordinate (the two string layouts real
    // stores carry; our writer refuses both by design) — hand-written
    // as literal metadata/chunk bytes, read back distributed through
    // the DSv2 connector with an IN predicate ON THE LABELS. The
    // predicate prunes station chunks at plan time (coordKeepSets over
    // the decoded strings: 3 of 8 chunks survive), which is the 100 TB
    // posture — label selection must shrink the read, not filter rows
    // post-scan. Values derive from indices alone, so the oracle
    // restates them in pure SQL (printf labels). t-extent scale-capped
    // at 256 (interop decode correctness is under test, not volume).
    QueryDef(
      "x151_string_coord_interop",
      (s, dir) => {
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = math.min(256L, n / W).toInt
        require(tExt >= 1, s"x151 needs events rows >= $W")
        val nSta = 32; val staChunk = 4; val tChunk = 64
        val store = zarrPath("x151", dir)
        graft.core.Fs.deleteRecursively(store)
        val root = java.nio.file.Paths.get(store)
        java.nio.file.Files.createDirectories(root)
        java.nio.file.Files.write(root.resolve(".zgroup"),
          """{"zarr_format":2}""".getBytes("UTF-8"))
        // |S8 station labels "S00".."S31", NUL-padded, chunked 4
        val sdir = root.resolve("station")
        java.nio.file.Files.createDirectories(sdir)
        java.nio.file.Files.write(sdir.resolve(".zarray"),
          (s"""{"chunks":[$staChunk],"compressor":null,"dtype":"|S8",""" +
            s""""fill_value":"","filters":null,"order":"C",""" +
            s""""shape":[$nSta],"zarr_format":2}""").getBytes("UTF-8"))
        java.nio.file.Files.write(sdir.resolve(".zattrs"),
          """{"_ARRAY_DIMENSIONS":["station"]}""".getBytes("UTF-8"))
        (0 until nSta / staChunk).foreach { c =>
          val b = new Array[Byte](staChunk * 8)
          (0 until staChunk).foreach { i =>
            val lbl = f"S${c * staChunk + i}%02d".getBytes("UTF-8")
            System.arraycopy(lbl, 0, b, i * 8, lbl.length)
          }
          java.nio.file.Files.write(sdir.resolve(s"$c"), b)
        }
        // vlen-utf8 tag coordinate "t000".."tNNN" over dim t, chunked 64
        val tdir = root.resolve("t")
        java.nio.file.Files.createDirectories(tdir)
        java.nio.file.Files.write(tdir.resolve(".zarray"),
          (s"""{"chunks":[$tChunk],"compressor":null,"dtype":"|O",""" +
            s""""fill_value":null,"filters":[{"id":"vlen-utf8"}],""" +
            s""""order":"C","shape":[$tExt],"zarr_format":2}""").getBytes("UTF-8"))
        java.nio.file.Files.write(tdir.resolve(".zattrs"),
          """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
        val nTChunks = (tExt + tChunk - 1) / tChunk
        (0 until nTChunks).foreach { c =>
          val items = (0 until tChunk).map { i =>
            f"t${c * tChunk + i}%03d".getBytes("UTF-8")
          }
          val bb = java.nio.ByteBuffer
            .allocate(4 + items.map(_.length + 4).sum)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.putInt(items.length)
          items.foreach { e => bb.putInt(e.length); bb.put(e) }
          java.nio.file.Files.write(tdir.resolve(s"$c"), bb.array())
        }
        // int64 variable v(station, t) = station*1000 + t
        val vdir = root.resolve("v")
        java.nio.file.Files.createDirectories(vdir)
        java.nio.file.Files.write(vdir.resolve(".zarray"),
          (s"""{"chunks":[$staChunk,$tChunk],"compressor":null,""" +
            s""""dtype":"<i8","fill_value":0,"filters":null,"order":"C",""" +
            s""""shape":[$nSta,$tExt],"zarr_format":2}""").getBytes("UTF-8"))
        java.nio.file.Files.write(vdir.resolve(".zattrs"),
          """{"_ARRAY_DIMENSIONS":["station","t"]}""".getBytes("UTF-8"))
        (0 until nSta / staChunk).foreach { sc =>
          (0 until nTChunks).foreach { tc =>
            val bb = java.nio.ByteBuffer.allocate(staChunk * tChunk * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            (0 until staChunk).foreach { i =>
              val sta = sc * staChunk + i
              (0 until tChunk).foreach { j =>
                val gt = tc * tChunk + j
                bb.putLong(if (gt < tExt) sta * 1000L + gt else 0L)
              }
            }
            java.nio.file.Files.write(vdir.resolve(s"$sc.$tc"), bb.array())
          }
        }
        s.read.format("zarr").option("coords", "true").load(store)
          .filter("station_coord IN ('S03', 'S17', 'S29')")
          .selectExpr("station", "station_coord AS label", "t",
            "t_coord AS tag", "v")
          .orderBy("station", "t")
      },
      Some(s"""
        WITH n AS (SELECT LEAST(256, (SELECT count(*) FROM events) // $W) AS text),
             sta AS (SELECT i, printf('S%02d', i) AS label
                     FROM unnest(range(32)) s(i))
        SELECT sta.i AS station, sta.label AS label, tt.i AS t,
               printf('t%03d', tt.i) AS tag, sta.i * 1000 + tt.i AS v
        FROM sta, unnest(range((SELECT text FROM n))) tt(i)
        WHERE sta.label IN ('S03', 'S17', 'S29')
        ORDER BY station, t""")),

    // --------------------------------------------------------------- x152
    // Non-Gregorian CF calendar interop, driver-gated: a CMIP-shaped
    // noleap store (int64 "days since 2000-01-01", calendar attr) that
    // xarray reads via cftime and our writer refuses to produce. The
    // time axis decodes to RAW COUNTS + a calendar tag; timeField
    // derives 'time.month' with fixed-year arithmetic (day 59 is
    // MARCH 1 — no Feb 29) and the monthly climatology groups across
    // years. The oracle restates noleap month boundaries as a CASE
    // over day-of-year — pure SQL, calendar-sensitive (a Gregorian
    // decode would shift every month after February in year 0).
    QueryDef(
      "x152_noleap_climatology",
      (s, dir) => {
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = math.min(730L, n / W).toInt
        require(tExt >= 1, s"x152 needs events rows >= $W")
        val store = noleapStore("x152", dir, tExt)
        val ds = XbeamDataset.fromZarr(s, store)
        // toDataFrame emits dim INDICES; groupbyCoordMean's output dim
        // is the distinct sorted months, which always start at 1 (day 0
        // is Jan 1) and are contiguous — index + 1 IS the month
        TabularBridge.toDataFrame(
          ds.timeField("t", "month").groupbyCoordMean("t"))
          .selectExpr("t + 1 AS month", "v AS mean_v").orderBy("month")
      },
      Some(s"""
        WITH n AS (SELECT LEAST(730, (SELECT count(*) FROM events) // $W) AS text),
        days AS (SELECT i % 365 AS doy, CAST(i AS DOUBLE) AS v
                 FROM unnest(range((SELECT text FROM n))) tt(i)),
        mapped AS (SELECT CASE
            WHEN doy < 31 THEN 1 WHEN doy < 59 THEN 2 WHEN doy < 90 THEN 3
            WHEN doy < 120 THEN 4 WHEN doy < 151 THEN 5 WHEN doy < 181 THEN 6
            WHEN doy < 212 THEN 7 WHEN doy < 243 THEN 8 WHEN doy < 273 THEN 9
            WHEN doy < 304 THEN 10 WHEN doy < 334 THEN 11 ELSE 12 END AS month,
            v FROM days)
        SELECT CAST(month AS BIGINT) AS month,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean_v
        FROM mapped GROUP BY month ORDER BY month""")),

    // --------------------------------------------------------------- x153
    // Calendar-aware resample, same noleap store: monthly resampleMean
    // buckets by the calendar's VARYING month lengths (31, 28, 31, ...)
    // and the output coordinate is the month starts back in RAW COUNT
    // space — the encoding round-trips, so a further timeField on the
    // result keeps working. The oracle maps each day to its noleap
    // month-start count (year*365 + cumulative month days).
    QueryDef(
      "x153_noleap_resample",
      (s, dir) => {
        val n: Long = nRows.computeIfAbsent(dir, d => t(s, d, "events").count())
        val tExt = math.min(730L, n / W).toInt
        require(tExt >= 1, s"x153 needs events rows >= $W")
        val store = noleapStore("x153", dir, tExt)
        val ds = XbeamDataset.fromZarr(s, store)
        val res = ds.resampleMean("t", "month")
        // surface the output coordinate (month-start counts): the dim
        // column is an index — join the plan-scale index→count map,
        // broadcast (two dozen rows)
        import s.implicits._
        val starts = res.template.coords("t").toLongs.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toSeq
          .toDF("t", "month_start")
        TabularBridge.toDataFrame(res)
          .join(org.apache.spark.sql.functions.broadcast(starts), "t")
          .selectExpr("month_start", "v AS mean_v")
          .orderBy("month_start")
      },
      Some(s"""
        WITH n AS (SELECT LEAST(730, (SELECT count(*) FROM events) // $W) AS text),
        days AS (SELECT i // 365 AS yr, i % 365 AS doy, CAST(i AS DOUBLE) AS v
                 FROM unnest(range((SELECT text FROM n))) tt(i)),
        mapped AS (SELECT yr * 365 + CASE
            WHEN doy < 31 THEN 0 WHEN doy < 59 THEN 31 WHEN doy < 90 THEN 59
            WHEN doy < 120 THEN 90 WHEN doy < 151 THEN 120
            WHEN doy < 181 THEN 151 WHEN doy < 212 THEN 181
            WHEN doy < 243 THEN 212 WHEN doy < 273 THEN 243
            WHEN doy < 304 THEN 273 WHEN doy < 334 THEN 304
            ELSE 334 END AS mstart, v FROM days)
        SELECT CAST(mstart AS BIGINT) AS month_start,
               CAST(sum(v) AS DOUBLE) / count(*) AS mean_v
        FROM mapped GROUP BY mstart ORDER BY month_start"""))
  )

  /** Hand-built CMIP-shaped noleap store for x152/x153: int64 t counts
    * "days since 2000-01-01" (calendar noleap, chunked 128) and a
    * float64 v(t) = t (chunked 64) — literal metadata/chunk bytes, the
    * layout our writer refuses (x150's method). */
  private def noleapStore(name: String, dir: String, tExt: Int): String = {
    val store = zarrPath(name, dir)
    graft.core.Fs.deleteRecursively(store)
    val root = java.nio.file.Paths.get(store)
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.write(root.resolve(".zgroup"),
      """{"zarr_format":2}""".getBytes("UTF-8"))
    val tdir = root.resolve("t")
    java.nio.file.Files.createDirectories(tdir)
    val tChunk = 128
    java.nio.file.Files.write(tdir.resolve(".zarray"),
      (s"""{"chunks":[$tChunk],"compressor":null,"dtype":"<i8",""" +
        s""""fill_value":null,"filters":null,"order":"C",""" +
        s""""shape":[$tExt],"zarr_format":2}""").getBytes("UTF-8"))
    java.nio.file.Files.write(tdir.resolve(".zattrs"),
      ("""{"_ARRAY_DIMENSIONS":["t"],""" +
        """"units":"days since 2000-01-01","calendar":"noleap"}""")
        .getBytes("UTF-8"))
    (0 until (tExt + tChunk - 1) / tChunk).foreach { c =>
      val bb = java.nio.ByteBuffer.allocate(tChunk * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until tChunk).foreach(j => bb.putLong((c * tChunk + j).toLong))
      java.nio.file.Files.write(tdir.resolve(s"$c"), bb.array())
    }
    val vdir = root.resolve("v")
    java.nio.file.Files.createDirectories(vdir)
    val vChunk = 64
    java.nio.file.Files.write(vdir.resolve(".zarray"),
      (s"""{"chunks":[$vChunk],"compressor":null,"dtype":"<f8",""" +
        s""""fill_value":"NaN","filters":null,"order":"C",""" +
        s""""shape":[$tExt],"zarr_format":2}""").getBytes("UTF-8"))
    java.nio.file.Files.write(vdir.resolve(".zattrs"),
      """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes("UTF-8"))
    (0 until (tExt + vChunk - 1) / vChunk).foreach { c =>
      val bb = java.nio.ByteBuffer.allocate(vChunk * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until vChunk).foreach(j => bb.putDouble((c * vChunk + j).toDouble))
      java.nio.file.Files.write(vdir.resolve(s"$c"), bb.array())
    }
    store
  }
}
