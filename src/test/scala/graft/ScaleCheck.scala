package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, length, lit, octet_length, sum}

/** Measured scale-up check: the same operators, the same generator, two
  * volumes apart — does runtime grow ~linearly (the 100 TB design
  * claim) or worse?
  *
  * It generates distribution-matched 1× and mult× slices of the catalog
  * (etl.DataGen.writeScaleSlice — same vocab, lengths, dup rates, user
  * scaling), runs the hottest document/event/embedding operators on
  * both, and prints one JSON line with per-query seconds and the
  * mult×/1× runtime ratio, then one `scale_adjudication` line per mass
  * family measured. A sub-11× ratio on a 10× volume is linear scaling
  * within noise (the constant per-query overhead — session, planning,
  * tiny dims — dilutes, so ratios usually land UNDER 10).
  *
  * Generated slices are a measurement rig only — correctness oracles
  * always run on the test data.
  *
  * Usage: Test/runMain graft.ScaleCheck [workDir] [mult] [reps] [q1,q2,…]
  * (the optional 4th arg restricts the measured set to those Hot-set
  * queries). The 4th arg `suite` instead measures EVERY SparkEntry query
  * that runs on the 1× slice; the ones that fail there are named in the
  * output's `excluded`.
  */
object ScaleCheck {

  // The measured set: the operators that dominate BENCH totals and whose
  // cost is driven by the scaled tables (documents/events/embeddings).
  // Memory-sink streaming replays are excluded — their micro-batch
  // scheduling floor is constant-dominated at these volumes and the
  // underlying operators' batch twins are all here. The two
  // foreachBatch replays (x91/x105) ARE measured: their sinks are
  // distributed parquet, so a 10× slice answers whether redelivery +
  // versioned-merge cost tracks volume (expected: yes, linearly in the
  // staged files) rather than hitting a state cliff. Members of a mass
  // family carry their scale reading in [[Families]]; the comments below
  // give it for the others.
  private val Hot = Seq(
    "x10_text_token_stats",
    "x37_text_redaction",
    "x38_text_repetition",
    "x42_boilerplate",
    "x45_tokenizer_fertility",
    "x73_boilerplate_spans",
    "x03_dedup_minhash",
    "x04_dedup_simhash",
    "x05_dedup_ngram_jaccard",
    "x06_dedup_embedding",
    "x14_text_fingerprints",
    "x17_events_sessionize",
    "x28_sim_topk_ivf",
    "x29_events_asof_native",
    "x34_contamination",
    "x159_fuzzy_contamination",
    "x43_dup_clusters",
    "x50_source_overlap",
    "x66_tfidf_terms",
    "x79_split_leakage",
    "x88_global_rank",
    "x91_stream_idempotent_sink",
    "x96_dedup_canonical",
    "x98_novelty",
    "x104_cluster_source_matrix",
    "x105_stream_incremental_agg",
    "x107_oov_audit",
    "x108_importance",
    "x109_semdedup",
    "x110_quant_audit",
    "x111_curriculum",
    "x157_media_perceptual_dedup",
    "x160_audio_perceptual_dedup",
    "x162_color_perceptual_dedup",
    "x163_perceptual_incremental",
    "x112_dedup_recall_audit",
    "x113_mix_plan",
    "x164_training_shards",
    "x114_outlier_audit",
    "x115_span_dedup",
    "x116_stream_enrich",
    "x117_scd2_intervals",
    "x118_mask_plan",
    "x120_bucketed_join",
    "x121_publish_audit",
    "x122_pit_attribution",
    "x123_curation_fused",
    "x124_dedup_incremental_near",
    "x125_perplexity_filter",
    "x126_leakfree_splits",
    "x127_compaction_roundtrip",
    "x128_sem_assign_approx",
    "x129_sem_assign_audit",
    "x130_compaction_incremental",
    "x131_fluency_external",
    "x133_sem_probe_sweep",
    "x134_manifest_time_travel",
    "x135_manifest_diff_read",
    // x136's corpus pass is one scan+word-count (linear); the merge
    // iterations run on the VOCAB-bounded table, whose size grows
    // sublinearly in corpus volume (Heaps' law) — expect ≈ scan growth
    "x136_bpe_merges",
    // x137 shuffles unigram+bigram counts (linear in token mass) and
    // broadcasts the vocab-bounded marginals — the x47/x125 family shape
    "x137_pmi_collocations",
    // x138 re-runs x136's vocab-bounded training then applies each rule
    // as a broadcast 1-row join over the per-source vocab — expect the
    // x136 shape (corpus scan linear, merge work Heaps-sublinear)
    "x138_bpe_encode_audit",
    // x139 is brute-force on BOTH representations (it is the audit —
    // the production win is the 4× cheaper distance, not candidate
    // pruning): expect linear in corpus size at fixed |Q|, the x07/x08
    // fixed-query-set constant
    "x139_projection_recall",
    // x155 is the same two-representation brute-force audit for the
    // int8 serving rung — the x139 shape, expect the same fixed-|Q|
    // linear constant
    "x155_quant_serving",
    "x140_bm25_retrieval",
    // x141 re-runs both rankers (BM25 postings + dense brute force) and
    // fuses constant-size frames — expect the sum of the two linear
    // ranker costs, fusion itself O(|Q|·depth)
    "x141_hybrid_rrf",
    // x142's corpus work is the fixed-|Q| brute candidate scan (the
    // x07/x139 linear constant); the unrolled MMR rounds touch only
    // pool-sized frames, so expect scan-growth-only ratios
    "x142_mmr_diversify",
    // x143's corpus work is the orders⋈lineitem edge build; each sweep
    // is one keyed join over the (distinct-pair-bounded) edge list —
    // expect ~linear in edge mass
    "x143_pagerank_supply",
    // x144 runs 2 corpus passes per power step over the cached exploded
    // table (C·v, never C) — expect linear in vector count, constant
    // per-step frames (64-row direction broadcasts)
    "x144_spectral_audit",
    "x145_equality_delete_read",
    // x146 re-runs the x141 rankers then attaches labels to the
    // broadcast ≤|Q|·k frame — expect the x141 ratio plus one keyed
    // corpus pass over embeddings
    "x146_retrieval_eval",
    "x147_stream_upsert_mor",
    "x148_zone_pruned_read",
    "x149_incremental_index",
    "x151_manifest_restore",
    "x152_manifest_history",
    "x153_manifest_merge",
    "x156_manifest_schema_evolution")

  /** A measured mass axis: `<key>_t1` and `<key>_t<mult>` carry the mass
    * on each slice, and `ratioKey`, when set, their ratio. */
  private[graft] final case class Mass(key: String, ratioKey: Option[String],
      of: (SparkSession, String) => Long)

  /** A mass family: every query whose wall ratio can exceed
    * [[AdjudicationRatioFloor]] belongs to exactly one, whose
    * `scale_adjudication` line prints the mass axes that explain a high
    * ratio. A `byQuery` family names its one query instead of its members;
    * `extraReps` adds a steady-state re-timing of it. */
  private[graft] final case class Family(name: String, members: Seq[String],
      masses: Seq[Mass], note: String, byQuery: Boolean = false, extraReps: Int = 0)

  private def sumOf(spark: SparkSession, dir: String, agg: Column, keep: Column = lit(true)): Long =
    Tables.load(spark, dir, "documents").filter(keep)
      .agg(coalesce(agg.cast("long"), lit(0L))).head().getLong(0)

  /** In printing order; each note is the family's reading of its ratio. */
  private[graft] val Families: Seq[Family] = Seq(
    Family("lsh_candidates", Seq("x08_sim_topk_lsh"),
      Seq(Mass("candidates", Some("candidate_ratio"), ext.Similarity.lshCandidateMass)),
      "fixed |Q|: candidate pairs grow with corpus size by design, runtime tracks candidate mass; the growing-|Q| rung is x28 IVF",
      byQuery = true, extraReps = 2),
    Family("bm25_candidates", Seq("x140_bm25_retrieval"),
      Seq(Mass("candidates", Some("candidate_ratio"), ext.Retrieval.bm25CandidateMass)),
      "champion-list nomination: per-term fan-out capped at ChampM, so candidate mass saturates once df crosses the cap",
      byQuery = true),
    Family("sem_probe", Seq("x128_sem_assign_approx", "x129_sem_assign_audit", "x133_sem_probe_sweep"),
      Seq(Mass("fine_cos", Some("mass_ratio"), ext.Similarity.semProbeCandidateMass)),
      "hierarchical probe is N^1.25 by design (per-vector fine candidates ~ probes*sqrt(nlist), nlist = sqrt(N)); x129 carries the sample-bounded exact reference and x133 sweeps probe widths on the same sample — runtime must track the fine-cosine mass; the exact path it replaces is N^1.5"),
    Family("gram_shuffle", Seq("x42_boilerplate", "x50_source_overlap",
        "x73_boilerplate_spans", "x98_novelty", "x115_span_dedup"),
      Seq(Mass("grams", Some("gram_ratio"), ext.TextAnalysis.noveltyGramMass)),
      "one hash-pair row per 8-gram through the keyed aggregates and the join back (x50's overlap matrix shares this axis); runtime must track gram mass (~token volume), never outgrow it. x73 (r18) and x98 (r19) winnow the positional stream doc-locally first and pay ~2/(w+1)=22 pct of this mass — their ratios should sit well UNDER the family line. x115 shares the AXIS but not the key scheme (60-bit md5-prefix span keys, not salted xxhash64 pairs), so the gram-mass datum is an approximate axis for it"),
    Family("stream_replay", Seq("x91_stream_idempotent_sink",
        "x105_stream_incremental_agg", "x147_stream_upsert_mor"),
      Seq(Mass("sink_rows", Some("sink_mass_ratio"), streaming.EventStreams.replaySinkMass)),
      "distributed sinks (x91 per-batch parquet overwrite at 2x mass - full redelivery; x105 versioned parquet state; x147 manifest delete+append commits), NOT the driver-memory replay harness; trigger count is fixed at 4 staged files per delivery, so per-trigger scheduling/fsync/commit constants dilute with volume and runtime must track sink-row mass"),
    Family("one_pass_scans", Seq("x10_text_token_stats", "x14_text_fingerprints",
        "x20_media_stats", "x21_media_features",
        // x22: decode + fixed-stride frame sample per media — payload
        // (char) mass is the only corpus-scale work
        "x22_media_frame_sample", "x37_text_redaction",
        "x38_text_repetition", "x45_tokenizer_fertility",
        // x60: stateless scan-level Bernoulli filter on quality signals
        // computed per char — no shuffle before selection (PlanSpec)
        "x60_sample_quality_weighted", "x84_audio_frames",
        "x110_quant_audit", "x149_incremental_index",
        // x157/x160/x162: the banded pair joins shuffle only 8-byte
        // signatures and are bucket-capped, so char mass stays the axis
        "x157_media_perceptual_dedup", "x160_audio_perceptual_dedup",
        "x162_color_perceptual_dedup",
        // x164: one token-count scan; everything past the quota cut
        // (selection, packing, sharding, publish) is budget-bounded and
        // does NOT grow with the corpus
        "x164_training_shards"),
      Seq(Mass("doc_chars", Some("char_ratio"), (s, d) => sumOf(s, d, sum(length(col("text"))))),
        Mass("emb_rows", None, (s, d) => Tables.load(s, d, "embeddings").count())),
      "pure per-row codegen scans over documents/embeddings (media decode is documents-derived; x149's base rebuild is the same tokenize-scan mass plus a delta-sized fold): cost axis is input mass, mult-x by construction — a high ratio here reads t1 overhead dilution, with per-row cost flat or falling"),
    Family("minhash_candidates", Seq("x03_dedup_minhash",
        "x106_minhash_threshold_sweep", "x124_dedup_incremental_near",
        "x159_fuzzy_contamination"),
      Seq(Mass("cand_pairs", Some("cand_ratio"), ext.Dedup.minhashCandidateMass)),
      "all four queries consume the shared capped-LSH candidate machinery (x106 sweeps thresholds over the same pairs, x124/x159 restrict to cross-boundary pairs): runtime must track candidate-pair mass plus the corpus-linear shingle scan"),
    Family("overlap_grams", Seq("x34_contamination", "x79_split_leakage"),
      Seq(Mass("grams", Some("gram_ratio"), ext.Contamination.overlapGramMass)),
      "one exploded row per word 8-gram occurrence through the overlap joins (x34 vs the benchmark set, x79 test-vs-train semi-join): runtime must track gram mass (~token volume), never outgrow it"),
    Family("lm_join", Seq("x125_perplexity_filter", "x131_fluency_external"),
      Seq(Mass("doc_bigrams", Some("bigram_ratio"), ext.TextAnalysis.lmJoinRowMass)),
      "per-(doc,bigram) pre-aggregation with map-side combine is the only token-mass shuffle; the LM-side tables are vocab-bounded (Heaps-sublinear), so runtime must track distinct doc-bigram mass"),
    Family("incremental_delta", Seq("x163_perceptual_incremental"),
      Seq(Mass("delta_chars", Some("delta_ratio"),
          (s, d) => sumOf(s, d, sum(length(col("text"))), col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1)),
        Mass("img_chars", None, (s, d) => sumOf(s, d, sum(length(col("text"))), col("doc_id") % 3 === 0))),
      "delta-vs-published-snapshot near-dup: steady-state cost is the delta decode+hash (delta char mass) plus an 8-byte-signature table read; the harness rebuilds the snapshot in-query (img char mass, the x157 decode scan) because nonce scratch is swept per rep"),
    Family("manifest_layout", Seq("x127_compaction_roundtrip",
        "x130_compaction_incremental", "x134_manifest_time_travel",
        "x135_manifest_diff_read", "x145_equality_delete_read",
        "x148_zone_pruned_read", "x151_manifest_restore",
        "x152_manifest_history", "x153_manifest_merge",
        "x156_manifest_schema_evolution"),
      Seq(Mass("table_bytes", Some("byte_ratio"), (s, d) => sumOf(s, d, sum(octet_length(col("text")))))),
      "every query appends and re-reads the documents table through the manifest layout (x151 restores a full entry set, x152 parses retained manifests — metadata-only, bounded above by this axis): runtime must track table payload bytes, with per-commit constants diluting as the slice grows"))

  /** Ratios above this need a family mass line (<5 reads as flat-cost
    * dilution, >5 needs an axis). */
  private[graft] val AdjudicationRatioFloor = 5.0

  private[graft] lazy val familyOf: Map[String, String] =
    Families.flatMap(f => f.members.map(_ -> f.name)).toMap

  /** Queries whose stamp ratio exceeds the floor but belong to NO mass
    * family — the silent-shape set that must be empty (spec-asserted
    * against the committed SCALE stamps). */
  private[graft] def unadjudicated(ratios: Map[String, Double],
      threshold: Double = AdjudicationRatioFloor): Seq[String] =
    ratios.collect {
      case (q, r) if r > threshold && !familyOf.contains(q) => q
    }.toSeq.sorted

  /** The family's `scale_adjudication` line: the measured `present`
    * members, each axis's (1×, mult×) mass, and for an `extraReps`
    * family its (1×, mult×) re-timing. */
  private[graft] def adjudicationLine(f: Family, mult: Int, present: Seq[String],
      masses: Seq[(Long, Long)], retimed: Option[(Double, Double)]): String = {
    val head =
      if (f.byQuery) s""""query":"${present.head}""""
      else s""""family":"${f.name}","queries":${Bench.jsonList(present)}"""
    val reps = retimed.fold("") { case (t1, tN) =>
      f""","reps":${f.extraReps}%d,"t1":$t1%.3f,"t$mult%d":$tN%.3f,"ratio":${tN / t1}%.2f"""
    }
    val axes = f.masses.zip(masses).map { case (m, (m1, mN)) =>
      f""","${m.key}_t1":$m1%d,"${m.key}_t$mult%d":$mN%d""" +
        m.ratioKey.fold("")(k => f""","$k":${mN.toDouble / m1}%.2f""")
    }.mkString
    s"""{"metric":"scale_adjudication",$head$reps$axes,"note":"${f.note}"}"""
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("tmp/scalecheck")
    val mult = if (args.length > 1) args(1).toInt else 10
    val reps = if (args.length > 2) args(2).toInt else 2
    val suiteMode = args.length > 3 && args(3) == "suite"
    val measured =
      if (suiteMode) Nil // resolved after the slices exist (probe needs them)
      else if (args.length > 3) {
        // fail loudly on names outside the Hot set: an intersection would
        // silently drop a misspelled or unlisted query
        val asked = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = asked -- Hot.toSet
        require(unknown.isEmpty,
          s"not in the ScaleCheck Hot set: ${unknown.mkString(", ")} — " +
            "add the query to Hot (with a scale rationale) or run `suite`")
        Hot.filter(asked)
      }
      else Hot
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val dir1 = s"$workDir/x1"
    val dirN = s"$workDir/x$mult"
    // both slices from the SAME generator so the ratio isolates volume —
    // comparing the sf0.1 test data to a generated slice would confound
    // generator differences with scaling
    if (!new java.io.File(s"$dir1/documents.parquet").exists())
      etl.DataGen.writeScaleSlice(spark, dir1, 1)
    if (!new java.io.File(s"$dirN/documents.parquet").exists())
      etl.DataGen.writeScaleSlice(spark, dirN, mult)

    // Rig symmetry: build the publish-once artifacts (CC cluster table,
    // SemDeDup keep-list) on BOTH slices, untimed, before any
    // measurement, so the first consumer on either slice is not billed
    // the owner's build. Owners (x43/x109) still rebuild inside their own
    // timings; consumers read steady state on both sides of the ratio.
    for (d <- Seq(dir1, dirN); q <- Seq("x43_dup_clusters", "x109_semdedup")
         if SparkEntry.queries.contains(q))
      Harness.run(spark, q, SparkEntry.queries(q)(spark, d))

    def run(dir: String, name: String, n: Int = reps): Double =
      (1 to n).map { _ =>
        val rec = Harness.run(spark, name, SparkEntry.queries(name)(spark, dir))
        if (!rec.ok) throw new IllegalStateException(s"$name failed: ${rec.error.getOrElse("")}")
        rec.seconds
      }.min

    // suite mode: every query that RUNS on the 1× slice, found by a probe
    // run rather than a hand-kept list, so new queries join the measured
    // set automatically; anything that fails is excluded BY NAME
    val (finalSet, probedOut) =
      if (!suiteMode) (measured, Nil)
      else SparkEntry.queries.keys.toSeq.sorted
        .partition(name => Harness.run(spark, name, SparkEntry.queries(name)(spark, dir1)).ok)
    require(finalSet.nonEmpty,
      s"no measurable queries — the 4th arg must name Hot-set queries (${Hot.mkString(", ")}) or `suite`")

    // warmup on the small slice
    run(dir1, finalSet.head)

    // suite mode at 10×: a memory-sink replay can legitimately trip its
    // 1M-row driver cap on a volume the harness was never sized for —
    // record the failure by name and keep measuring (no silent drops)
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = finalSet.flatMap { name =>
      try {
        val t1 = run(dir1, name)
        val tN = run(dirN, name)
        Some((name, t1, tN, tN / t1))
      } catch {
        case _: Throwable if suiteMode => failed += name; None
      }
    }
    val qjson = rows.map { case (n, t1, tN, r) =>
      f""""$n":{"t1":$t1%.3f,"t$mult":$tN%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    val worst = rows.maxBy(_._4)
    val excluded = Bench.jsonList(probedOut ++ failed)
    val totals = f""""t1_total":${rows.map(_._2).sum}%.1f,"t${mult}_total":${rows.map(_._3).sum}%.1f"""
    println(s"""{"metric":"scale_ratio_p50","value":${median(rows.map(_._4))},"mult":$mult,"reps":$reps,"n_measured":${rows.size},"excluded":$excluded,$totals,"worst":"${worst._1}","worst_ratio":${f"${worst._4}%.2f"},"queries":$qjson}""")

    def mass(m: Mass, dir: String): Long =
      try m.of(spark, dir) finally { CacheScope.release(); spark.catalog.clearCache() }
    val measuredNames = rows.map(_._1).toSet
    Families.foreach { f =>
      val present = f.members.filter(measuredNames)
      if (present.nonEmpty) {
        val masses = f.masses.map(m => (mass(m, dir1), mass(m, dirN)))
        val retimed = if (f.extraReps == 0) None
          else Some((run(dir1, present.head, f.extraReps), run(dirN, present.head, f.extraReps)))
        println(adjudicationLine(f, mult, present, masses, retimed))
      }
    }
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
