package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Empirical scale check for the heavy text/vector/join gates: run each
  * on two [[graft.datagen.ScaleGen]] corpora — sf0.1-equivalent and sf1
  * (10x rows) — from the SAME generator, and report the runtime ratio.
  * The 100 TB posture of these operators is plan-asserted everywhere
  * (banded/blocked/capped similarity, one-shuffle aggregations,
  * exchange-free bucketed sides); this harness is the execution-side
  * evidence: a gate whose ratio is super-linear beyond shuffle overhead
  * names its blowup.
  *
  * Timing discipline matches [[Bench]]: reps interleaved round-robin
  * across (gate, scale) cells, rep 1 excluded from the median, loadavg
  * sentinel per rep, one JSON line out. Round-9 additions, all from the
  * round-8 audit:
  *
  *   - WORK-SIZE COUNTERS: per gate and scale, the result-row count and
  *     (for the candidate-generating gates) the pre-threshold
  *     candidate/pair count from the `scaleProbes` maps — so a
  *     sub-linear ratio (d13 read 0.30x in r8) is attributable to
  *     workload shape, and a super-linear one names its pair blow-up,
  *     instead of both hiding inside a bare seconds ratio.
  *   - QUIESCE GATE: the run waits (bounded) for the 1-minute loadavg
  *     to drop below a threshold before measuring, and publishes the
  *     observed start/end loads plus the wait — r8's artifact ended at
  *     loadavg 23 with no way to tell our own work from contention.
  *   - per-rep load arrays for BOTH scales in the JSON (timeQueries
  *     already sampled them; now they are published).
  */
object ScaleBench {

  /** The gates worth scaling (the ones whose cost is data-shaped: pair
    * generation, LSH banding, components, substring grams, token stats,
    * range join, IVF train/assign/probe).
    */
  val HeavyGates: Seq[String] = Seq(
    "d2c_jaccard_capped",
    "d3_minhash_lsh",
    "d10_dedup_clusters",
    "d11_substring_dedup",
    "d12_incremental_dedup",
    "d13_tfidf_neardup",
    "t10_term_importance",
    "t13_bigram_topk",
    "j4_range_join",
    "j6_click_attribution",
    "v3_ann_ivf",
    "v4_ann_ivf_multiprobe",
    "v12_ivfpq_topk",
    "t23_lm_familiarity",
    "d18_incremental_neardup",
    "v5_ivf_index_probe",
    "v10_pq_topk",
    // r7 additions: the graph plane (edge gen + oriented wedge join +
    // frontier BFS) and the new shingle-set consumers
    "g4_triangles",
    "g5_khop_reach",
    "g6_edge_jaccard",
    "t19_containment_dedup",
    // t19's capped twin — the linear-scale containment path (t19 itself
    // measured 11.2x for 10x data in SCALE_r07: expected pair blow-up of
    // the exact form; the cap is the 100 TB answer, keep both measured)
    "t19c_containment_capped",
    // content-defined chunking: linear chunker + df-capped share join
    "d17_cdc_chunks",
    "d15_minhash_estimate",
    // r8 additions: the support-thresholded wedge join (g9), RAKE's
    // explode + segmentation + re-score join chain (t24), and the
    // two-agg vocabulary curve (t25) — all lineitem/documents-only so
    // they run on the ScaleGen corpora
    "g9_link_prediction",
    "t24_rake_keywords",
    "t25_vocab_growth",
    // d18's wide-recall twin — width-1 banding, the t19-style disclosed
    // anchor: even band-capped, its candidate set grows with corpus
    // density (measured ~5x at 10x data), which is exactly why d18's
    // declared scale path is the width-2 banding measured next to it
    "d18w_wide_recall",
    // r9 additions — the r7/r8 audits' named absentees: the two
    // iterate-and-join shapes (5-round PageRank, its seeded twin), the
    // Σ basket² pair rollup, the banded-DP linkage, and the
    // degree-join assortativity — the exact places super-linear
    // surprises hide. q18/g10 read the ScaleGen dim tables
    // (orders/supplier/nation) added alongside.
    "g3_pagerank",
    "g10_personalized_pagerank",
    "g11_assortativity",
    "q18_market_basket",
    "d16_edit_distance",
    // r9: the banded-containment scale path (t19b) — candidates from
    // the d3 banding, exact containment verify on candidates only —
    // and the BPE trainer (one corpus rollup + dict-sized merge loop:
    // the ratio should be ~the word-count pass alone)
    "t19b_containment_banded",
    "t26_bpe_trainer",
    "t27_bpe_tokenize",
    // 4-round degree peeling over the co-occurrence graph
    "g12_kcore",
    // 3-round synchronous label propagation (join + hash-agg argmax per round)
    "g13_label_propagation",
    // 3 alternating hub/authority join+agg rounds over the order bipartite graph
    "g14_hits",
    // r10 additions — the corpus-shaped new gates: chunk-grid sub-document
    // dedup (one explode + two hash aggs + chunk-hash join), the
    // cluster-aware split (components over the shared thresholded pair
    // frame + size join), the chained as-of training-set build (two
    // user-keyed window passes over 10x events), and the incremental IVF
    // lifecycle (train on 9/10, assign+append 1/10, probe all)
    "t30_line_dedup",
    "s14_cluster_split",
    "j11_training_dataset",
    "v14_ivf_incremental",
    // r11 additions: the per-step frontier⋈edges walk rounds (cost should
    // track the edge mass, like g3 — measured 1.72x), the LSH-init +
    // NN-descent kNN graph (measured 5.2x at 10x vectors: its in-bucket
    // candidate set grows 6.3x by design — derived bits hold avg bucket
    // size near the target as n grows, so candidates ~ n·target·T — and
    // the NN-descent round adds n·(2k)², both LINEAR in n; the ratio
    // sits below the 10x data growth, the t19-style disclosed-anchor
    // convention), and the change-feed lifecycle (5 commits incl.
    // merge/delete change recording — the CDF write amplification at
    // 10x events, measured 1.70x)
    "g15_random_walks",
    "v15_knn_graph",
    "x14_change_feed",
    // r11 late additions: the beam-search walk over the kNN graph (v17 —
    // the v15 build plus |queries|·beam-bounded search rounds, so the
    // ratio should track v15's build term), and the modularity rollup
    // over the LPA partition (g16 — g13's rounds plus two label-keyed
    // join+agg passes over the edge frame)
    "v17_graph_ann",
    // v18's timed rep includes the index-table writes (the v5/v14
    // lifecycle-gate convention)
    "v18_graph_index_probe",
    "g16_modularity",
    // round-11 session-2 additions: the (source, node)-keyed multi-source
    // BFS (g17 — cost should track g5's frontier term times the fixed
    // source count), and the binary-quantization scan + shortlist rescore
    // (v19 — the Hamming pass is linear in n at 16 bytes/row, the rescore
    // is |queries|·shortlist-bounded)
    "g17_closeness",
    "v19_binary_rerank",
    // g18 = ONE oriented wedge join + per-round alive-set semi-joins
    // over the persisted packed triangle list; the survivor counters
    // below make a quenched corpus visible (the g12 lesson)
    "g18_ktruss",
    // round-11 session-3: the tombstoned-delete probe (v21 — v5's
    // build + an O(ids) delete write + the live probe whose anti-join
    // broadcasts the tombstone set; should track v5's build term), and
    // Luby MIS (g19 — per-round semi-join+min over the pre-partitioned
    // undirected frame, the g12 shape; winner counters below)
    "v21_ann_tombstones",
    "g19_mis",
    // round-12 additions: the maintained graph-ANN lifecycle (v22 —
    // base-slice build + delta NN-descent round + tombstoned beam
    // probe; should track v15's build term on the base slice), the
    // deletion-vector delete lifecycle (x22 — overwrite + MOR delete +
    // fold; the MOR commit is zone-pruned-scan-sized, the fold is the
    // one rewrite), and the BQ shortlist after its bottom-k rewrite
    // (v20 — the r11-weak corpus-sized window is gone; the monitor pays
    // two Hamming scans + two bounded rescores)
    "v22_gann_incremental",
    "x22_mor_delete",
    "v20_bq_recall",
    // round-12 session-2: HashMin+compression connected components over
    // the support-thresholded co-occurrence graph (g20 — per round one
    // keyed min-join + one label-keyed pointer join, the g12 shape;
    // delta counters below). The strong-tie threshold makes the edge
    // frame SHRINK relative to the raw pair count, so the ratio prices
    // the pair aggregation plus bounded rounds
    "g20_components",
    // the composed corpus-prep chain (e1 — d1 dedup + t2 scoring + t3
    // lang-id + s5 split in one query): each stage is linear; the cell
    // prices the composition's shared-scan behavior at 10x docs
    "e1_corpus_pipeline",
    // the embedding-side composition (e2 — d9's cell-blocked SemDedup
    // feeding the exact survivor retrieval): the heavy stage is the
    // in-cell pair scan, cell-capped by MaxCell at any corpus size
    "e2_embedding_pipeline",
    // round-12 session-3: the deletion-vector MERGE lifecycle (x26 —
    // overwrite + MOR merge + fold; the merge writes O(changes) + the
    // vector, the fold is the one rewrite — should track x22's shape
    // with the change batch replacing the doomed range), and the bloom
    // point-lookup lifecycle (x27 — overwrite + one aggregate pass over
    // every file for the sidecars + three |files|-bounded lookups)
    "x26_merge_mor",
    "x27_bloom_lookup",
    // round-12 session-3 (cont.): the probed radius retrieval (v25 —
    // the v3 quantizer lifecycle + an nProbe-bounded cell scan per
    // query; should track v3's shape), the store-TTL serving view (w31
    // — the w7 feature job + the |keys|-row snapshot filter), and the
    // Neyman draw (s18 — one decimal(38) moment pass + a bounded-heap
    // bottom-k per stratum, never a per-stratum sort)
    "v25_ivf_range",
    "w31_store_ttl",
    "s18_neyman_sample",
    // weighted SSSP (g21 — per-round changed-set relaxations over the
    // persisted weighted edge frame; should track g5's frontier shape
    // with the min-agg merge replacing the anti-join)
    "g21_weighted_sssp")

  /** Pre-threshold candidate/pair probes (see the `scaleProbes` maps). */
  private def probes: Map[String, (SparkSession, String) => DataFrame] =
    queries.DocQueries.scaleProbes ++ queries.RelationalQueries.scaleProbes

  /** Block (bounded) until the 1-minute loadavg drops below `below`, so
    * the measured reps do not start inside another artifact's tail — the
    * r8 harness ran with the bench run's load still draining. Returns
    * (waitedSec, loadAtStart-of-measurement).
    */
  private def quiesce(below: Double, maxWaitSec: Int): (Long, Double) = {
    val t0 = System.nanoTime()
    var load = Bench.loadAvg()
    while (load >= below && (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      Thread.sleep(5000)
      load = Bench.loadAvg()
    }
    (((System.nanoTime() - t0) / 1e9).round, load)
  }

  /** Count rows of `fn(spark, dir)` under the cache scope; -1 on error. */
  private def countOf(
      spark: SparkSession,
      dir: String,
      fn: (SparkSession, String) => DataFrame): Long =
    try CacheScope.scoped(spark) { fn(spark, dir).count() }
    catch { case _: Throwable => -1L }

  /** The snapshot-table METADATA path at 10x the file count (the r10
    * audit's named absentee: commit/read/vacuum are driver-side manifest
    * list/parse — fine at gate-sized file counts, unmeasured beyond).
    * Builds a table of `n` data files (two overwrite commits so a vacuum
    * at keepFrom=2 really deletes n files), then measures what scales
    * with FILES, not rows: manifest parse seconds (median of 20 parses
    * via [[graft.sources.Snapshots.manifest]] — the cost every versioned
    * read pays before its scan), manifest byte size (the format's
    * linearity made visible), commit seconds (staging + zone-map scan +
    * publish), and vacuum seconds (recursive list + refcount + delete of
    * n files). Returns (commitSec, parseSec, vacuumSec, manifestBytes,
    * deleted).
    */
  private def snapshotMetaCell(
      spark: SparkSession,
      n: Int): (Double, Double, Double, Long, Int) = {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory(s"graft_snap_meta_$n")
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val df = spark
        .range(n.toLong * 20)
        .select(col("id"), (col("id") % 97L).as("x"))
        .repartition(n)
      val (_, commitSec) =
        timed(graft.sources.Snapshots.commitOverwrite(df, dir.toString, Seq("id")))
      graft.sources.Snapshots.commitOverwrite(df, dir.toString, Seq("id"))
      val parseReps = 20
      val parses = (1 to parseReps).map { _ =>
        timed(graft.sources.Snapshots.manifest(spark, dir.toString, 2))._2
      }
      val bytes = java.nio.file.Files
        .size(java.nio.file.Paths.get(dir.toString, "_manifests", "v2.list"))
      val (deleted, vacSec) =
        timed(graft.sources.Snapshots.vacuum(spark, dir.toString, keepFrom = 2))
      (commitSec, Bench.median(parses), vacSec, bytes, deleted)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_))
          finally s.close()
        }
        try { java.nio.file.Files.deleteIfExists(p); () }
        catch { case _: Throwable => () }
      }
      rm(dir)
    }
  }

  /** args: smallDir largeDir [reps] [outPath]. Emits one JSON line with
    * per-gate medians at both scales, large/small ratios, per-rep loads,
    * and the work-size counters.
    *
    * Heap: the sf1 corpus drives edge-sized hash aggregations (g13's
    * (node,label) frame over ~24M undirected rows) through 32 concurrent
    * local tasks — run with `SPARK_DRIVER_MEM=16g` or more (the r9 runs
    * used 24g; the 8g default OOMs in HashAggregate at sf1). A real
    * cluster sizes per-executor heaps independently; this is a
    * single-JVM-local-mode constraint, not an operator one.
    */
  def main(args: Array[String]): Unit = {
    // standalone metadata-cell mode for quick iteration on the snapshot
    // metadata path: `runMain graft.ScaleBench meta`
    if (args.headOption.contains("meta")) {
      val spark: SparkSession = Sessions.local()
      Seq(300, 3000).foreach { n =>
        val (c, p, v, b, del) = snapshotMetaCell(spark, n)
        println(f"META files=$n commit=$c%.2fs parse=${p * 1000}%.2fms vacuum=$v%.2fs bytes=$b deleted=$del")
      }
      spark.stop()
      return
    }
    val smallDir = args(0)
    val largeDir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 4
    val outPath = if (args.length > 3) args(3) else "/root/repo/SCALE_r12.json"
    // optional 5th arg: comma-separated gate subset, for measuring a
    // session's NEW heavies without re-running the whole matrix (merge
    // the resulting cells into the round artifact)
    val only: Option[Set[String]] = if (args.length > 4) Some(args(4).split(",").toSet) else None
    val spark: SparkSession = Sessions.local()
    val gates = SparkEntry.queries.filter { case (k, _) =>
      HeavyGates.contains(k) && only.forall(_.contains(k))
    }
    val (quiesceSec, loadStart) = quiesce(below = 4.0, maxWaitSec = 300)
    // one warm pass at the small scale so codegen/parquet-reader init is
    // in nobody's rep 1 more than necessary
    CacheScope.scoped(spark) {
      Bench.timeQueries(spark, smallDir, gates, reps = 1)
    }
    spark.catalog.clearCache()
    val small = CacheScope.scoped(spark) {
      Bench.timeQueries(spark, smallDir, gates, reps)
    }
    spark.catalog.clearCache()
    val large = CacheScope.scoped(spark) {
      Bench.timeQueries(spark, largeDir, gates, reps)
    }
    spark.catalog.clearCache()
    // work-size pass (untimed, after all timing): result rows at both
    // scales for every gate, candidate/pair counts where a probe exists
    val rows = gates.map { case (name, fn) =>
      name -> (countOf(spark, smallDir, fn), countOf(spark, largeDir, fn))
    }.toMap
    val pairs = probes.filter { case (k, _) => HeavyGates.contains(k) }.map { case (name, fn) =>
      name -> (countOf(spark, smallDir, fn), countOf(spark, largeDir, fn))
    }
    def ratioOf(s: Long, l: Long): Double =
      if (s > 0 && l >= 0) math.round(l.toDouble / s * 100.0) / 100.0 else -1.0
    val byName = small.map(t => t.name -> t).toMap
    val cells = large.sortBy(_.name).map { lg =>
      val sm = byName(lg.name)
      val ratio =
        if (sm.err.isEmpty && lg.err.isEmpty && sm.med > 0) lg.med / sm.med else -1.0
      val err = (sm.err.toSeq ++ lg.err.toSeq).headOption
        .map(e => s""","err":"${e.replace("\"", "'")}"""")
        .getOrElse("")
      val (rs, rl) = rows(lg.name)
      val pairsJson = pairs.get(lg.name).map { case (ps, pl) =>
        s""","small_pairs":$ps,"large_pairs":$pl,"pairs_ratio":${ratioOf(ps, pl)}"""
      }.getOrElse("")
      s""""${lg.name}":{"small_sec":${sm.med},"large_sec":${lg.med},""" +
        s""""ratio":$ratio,"small_runs":${sm.runs.mkString("[", ",", "]")},""" +
        s""""large_runs":${lg.runs.mkString("[", ",", "]")},""" +
        s""""small_load":${sm.repLoad.mkString("[", ",", "]")},""" +
        s""""large_load":${lg.repLoad.mkString("[", ",", "]")},""" +
        s""""small_rows":$rs,"large_rows":$rl,"rows_ratio":${ratioOf(rs, rl)}""" +
        pairsJson + err + "}"
    }
    // corpus sizes (parquet metadata counts) so every ratio has its
    // denominator in the artifact
    val corpus = Seq("documents", "embeddings", "events", "lineitem").map { t =>
      val s = spark.read.parquet(s"$smallDir/$t.parquet").count()
      val l = spark.read.parquet(s"$largeDir/$t.parquet").count()
      s""""$t":{"small":$s,"large":$l}"""
    }
    // g12 evidence counters: per-round alive-set sizes at both scales,
    // so the k-core ratio is attributable to real multi-round peeling
    // (r9's cell measured a corpus whose alive set quenched to zero by
    // round 3 — the ratio priced only round 1's degree aggregation)
    // snapshot-metadata cell at 10x files (300 vs 3000): the manifest
    // parse/vacuum path's own scale evidence, independent of row volume
    val snapMeta = {
      def ratio(s: Double, l: Double): Double =
        if (s > 0) math.round(l / s * 100.0) / 100.0 else -1.0
      try {
        val (cS, pS, vS, bS, dS) = snapshotMetaCell(spark, 300)
        val (cL, pL, vL, bL, dL) = snapshotMetaCell(spark, 3000)
        s""""snapshot_meta":{"small_files":300,"large_files":3000,""" +
          s""""deleted":{"small":$dS,"large":$dL},""" +
          s""""commit_sec":{"small":$cS,"large":$cL,"ratio":${ratio(cS, cL)}},""" +
          s""""parse_sec":{"small":$pS,"large":$pL,"ratio":${ratio(pS, pL)}},""" +
          s""""vacuum_sec":{"small":$vS,"large":$vL,"ratio":${ratio(vS, vL)}},""" +
          s""""manifest_bytes":{"small":$bS,"large":$bL,"ratio":${ratio(bS.toDouble, bL.toDouble)}}}"""
      } catch {
        case e: Throwable =>
          s""""snapshot_meta":{"err":"${e.toString.take(200).replace("\"", "'")}"}"""
      }
    }
    val g12Rounds = Seq("small" -> smallDir, "large" -> largeDir).map { case (tag, dir) =>
      val counts =
        if (!only.forall(_.contains("g12_kcore"))) Seq.empty[Long]
        else try CacheScope.scoped(spark) {
          queries.RelationalQueries.kCoreRoundSurvivors(spark, dir).map(_._2)
        } catch { case _: Throwable => Seq.empty[Long] }
      s""""$tag":${counts.mkString("[", ",", "]")}"""
    }
    val g18Rounds = Seq("small" -> smallDir, "large" -> largeDir).map { case (tag, dir) =>
      val counts =
        if (!only.forall(_.contains("g18_ktruss"))) Seq.empty[Long]
        else try CacheScope.scoped(spark) {
          queries.RelationalQueries.kTrussRoundSurvivors(spark, dir).map(_._2)
        } catch { case _: Throwable => Seq.empty[Long] }
      s""""$tag":${counts.mkString("[", ",", "]")}"""
    }
    // g19: per-round adopted-winner counts from the gate's loop — a
    // quenched corpus (no undecided node left) must be visible in the
    // artifact as a shorter list (the g12/g18 counter convention)
    val g19Rounds = Seq("small" -> smallDir, "large" -> largeDir).map { case (tag, dir) =>
      val counts =
        if (!only.forall(_.contains("g19_mis"))) Seq.empty[Long]
        else try CacheScope.scoped(spark) {
          queries.RelationalQueries.misRoundWinners(spark, dir)
        } catch { case _: Throwable => Seq.empty[Long] }
      s""""$tag":${counts.mkString("[", ",", "]")}"""
    }
    // g20: per-round changed-label counts from the fixpoint-mode loop —
    // convergence inside the gate's 8-round budget must be visible at
    // BOTH scales (trailing zero = the fixpoint witness round)
    val g20Rounds = Seq("small" -> smallDir, "large" -> largeDir).map { case (tag, dir) =>
      val counts =
        if (!only.forall(_.contains("g20_components"))) Seq.empty[Long]
        else try CacheScope.scoped(spark) {
          queries.RelationalQueries.componentRoundDeltas(spark, dir)
        } catch { case _: Throwable => Seq.empty[Long] }
      s""""$tag":${counts.mkString("[", ",", "]")}"""
    }
    val line =
      s"""{"metric":"scale_ratio_10x","small":"$smallDir","large":"$largeDir",""" +
        s""""reps":$reps,"quiesce_wait_sec":$quiesceSec,"load_avg_start":$loadStart,""" +
        s""""load_avg_end":${Bench.loadAvg()},""" +
        s""""corpus":${corpus.mkString("{", ",", "}")},""" +
        s"""$snapMeta,""" +
        s""""g12_round_survivors":${g12Rounds.mkString("{", ",", "}")},""" +
        s""""g18_round_survivors":${g18Rounds.mkString("{", ",", "}")},""" +
        s""""g19_round_winners":${g19Rounds.mkString("{", ",", "}")},""" +
        s""""g20_round_deltas":${g20Rounds.mkString("{", ",", "}")},""" +
        s""""gates":${cells.mkString("{", ",", "}")}}"""
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
