package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression guards: the scale story depends on filters
  * reaching the parquet scan, projections pruning columns, and
  * dimension tables broadcasting — assert it, don't assume it. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String = {
    // Other suites in the shared session cache frames whose logical
    // plans match whole queries here; CacheManager would then swap in
    // InMemoryRelation and hide the real plan shape, making these
    // assertions depend on suite execution order. Evicted frames
    // recompute on demand, so this only trades a little test time.
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)
  }

  test("selective filters push into the parquet scan") {
    val p = plan("q6_forecast")
    assert(p.contains("PushedFilters"), "no pushdown section")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("LessThan(l_shipdate"),
      s"ship-date range not pushed:\n${p.take(2000)}")
  }

  test("projection prunes the scan schema") {
    val p = plan("q3_revenue")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!readSchemas.contains("l_comment") && !readSchemas.contains("l_shipdate"),
      s"lineitem scan reads more than the query needs:\n$readSchemas")
  }

  test("star-join dims broadcast, never shuffle") {
    val p = plan("q5_region")
    assert(p.contains("BroadcastHashJoin"), "expected broadcast joins in q5")
  }

  test("semi join stays a semi join in the physical plan") {
    val p = plan("q_semi_join")
    assert(p.contains("LeftSemi"), s"semi join lost:\n${p.take(1500)}")
  }

  test("embedding dedup pair-joins on block keys — no nested-loop/cartesian") {
    val p = plan("d_dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair enumeration degenerated to all-pairs join:\n${p.take(2000)}")
  }

  test("chunk dedup is one hash aggregation — no join, no window") {
    val p = plan("d_dedup_chunk")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"chunk grouping grew a join/window:\n${p.take(2000)}")
    // The full shuffle budget, every one linear in (hash, id) pairs:
    // the conditional docsSpread spread (local-layout only), the
    // count-distinct rewrite's two aggregation exchanges, and the
    // presentation sort. FormattedMode tree lines render exchanges as
    // "+- Exchange (7)" / ":- Exchange (7)" — count those (the
    // details section's "(7) Exchange" headers don't match, avoiding
    // a double count).
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges >= 1 && exchanges <= 4,
      s"chunk dedup shuffle budget exceeded ($exchanges exchanges):\n${p.take(2000)}")
  }

  test("repetition and entropy shuffle only the per-word aggregations") {
    Seq("t_repetition", "t_entropy").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degenerated to all-pairs:\n${p.take(1500)}")
      assert(!p.contains("Window"),
        s"$q grew a window (metrics are aggregations, not windows):\n${p.take(1500)}")
    }
  }

  test("context packing never plans a global window") {
    val p = plan("t_pack")
    // the distributed prefix sum must not regress to a single-reducer
    // ORDER BY window (the presentation sort is a range exchange, fine)
    assert(!p.contains("Window"),
      s"t_pack planned a window over the whole corpus:\n${p.take(1500)}")
    assert(p.contains("MapPartitions"), "prefix-sum pass missing")
  }

  test("shard packing never plans a global window") {
    val p = plan("m_shard_pack")
    assert(!p.contains("Window"),
      s"m_shard_pack planned a window over the whole corpus:\n${p.take(1500)}")
    assert(p.contains("MapPartitions"), "prefix-sum pass missing")
  }

  test("token-budget cut never plans a per-language window") {
    val p = plan("d_budget")
    // the keyed prefix sum must not regress to a PARTITION BY lang
    // window — that pulls each language's whole corpus into one reducer
    assert(!p.contains("Window"),
      s"d_budget planned a per-language window:\n${p.take(1500)}")
    assert(p.contains("MapPartitions"), "keyed prefix-sum pass missing")
  }

  test("source overlap never pairs documents — and the size lookups broadcast") {
    val p = plan("d_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"source overlap degenerated to all-pairs:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"per-source size lookup stopped broadcasting:\n${p.take(2000)}")
  }

  test("brute ANN reduces top-k per partition — scored corpus never shuffles") {
    val p = plan("s_ann_brute")
    assert(p.contains("MapPartitions"),
      s"per-partition top-k stage missing:\n${p.take(2000)}")
    // The only wide ops after scoring run on the ≤ partitions×queries×k
    // partials: window rank + presentation sort. The corpus-side plan is
    // scan → broadcast-join → project → mapPartitions, all narrow. The
    // formatted tree prints root-first, so everything at or below (after)
    // the MapPartitions node in the tree text is the corpus side.
    val tree = p.split("\n\n")(0)
    val mpIdx = tree.indexOf("MapPartitions")
    assert(mpIdx >= 0, s"MapPartitions missing from plan tree section:\n${tree.take(2000)}")
    val corpusSide = tree.substring(mpIdx)
    assert(!corpusSide.contains("Window"),
      s"window rank runs against the full scored corpus:\n${tree.take(2000)}")
  }

  test("PQ ANN scores codes per partition — coded corpus never shuffles scored") {
    // Note: the corpus × broadcast-5-query scoring join IS a
    // BroadcastNestedLoopJoin by design (a ≠-condition against a
    // tiny broadcast set — the same shape as s_ann_brute); the
    // all-pairs hazard guarded here is the corpus side shuffling its
    // Q×N coarse scores, which the per-partition heap prevents.
    val p = plan("s_ann_pq")
    assert(p.contains("MapPartitions"),
      s"per-partition coarse top-C stage missing:\n${p.take(2000)}")
    // same discipline as s_ann_brute: everything below the
    // MapPartitions node (the corpus side) must stay window-free —
    // the window rank runs on the bounded partials only
    val tree = p.split("\n\n")(0)
    val mpIdx = tree.indexOf("MapPartitions")
    assert(mpIdx >= 0, s"MapPartitions missing from plan tree:\n${tree.take(2000)}")
    assert(!tree.substring(mpIdx).contains("Window"),
      s"window rank runs against the full coarse-scored corpus:\n${tree.take(2000)}")
  }

  test("IVF-PQ candidates arrive through the cid equi-join — no all-pairs scoring") {
    // unlike the broadcast-probe variants, the composed index prunes
    // BEFORE scoring: candidates must come from a hash/broadcast
    // equi-join on the cell id, never a nested-loop over the corpus
    val p = plan("s_ann_ivfpq")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"IVF-PQ scored outside the cell equi-join:\n${p.take(2000)}")
    // and the cell survivors (still ~nprobe/K of the corpus) reduce
    // through the bounded per-partition heap before any window
    assert(p.contains("MapPartitions"),
      s"per-partition coarse top-C stage missing:\n${p.take(2000)}")
    val tree = p.split("\n\n")(0)
    val mpIdx = tree.indexOf("MapPartitions")
    assert(!tree.substring(mpIdx).contains("Window"),
      s"window rank runs against the full ADC-scored survivors:\n${tree.take(2000)}")
  }

  test("decontamination and ngram dedup stay on equi-joins — never all-pairs") {
    Seq("d_decontaminate", "d_dedup_ngram", "d_containment").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degenerated to an all-pairs join:\n${p.take(2000)}")
    }
  }

  test("boilerplate rewrite never pairs documents and gathers only per-doc rows") {
    val p = plan("d_boilerplate")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"boilerplate degenerated to an all-pairs join:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      s"boilerplate reassembly grew a window (per-doc groupBy expected):\n${p.take(2000)}")
  }

  test("sharding streams the order fingerprint — no whole-shard row") {
    val p = plan("d_shard")
    // narrow key/shard/sub assignment → one corpus hash exchange into
    // the streaming-digest mapPartitions, then one exchange over the
    // tiny sub-digest frame; the presentation orderBy adds a range
    // exchange, nothing more
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 2,
      s"expected exactly two hash exchanges, got $hashExchanges:\n${p.take(2500)}")
    assert(p.contains("MapPartitions"),
      s"streaming per-sub-range digest stage missing:\n${p.take(2500)}")
    // the only collect_list is over the bounded (sub, sub_fp) digest
    // rows — a collect_list over the raw (kk, id) corpus is the
    // whole-shard fingerprint row this plan exists to avoid
    assert(!p.contains("collect_list(struct(kk"),
      s"whole-shard collect_list over raw ids is back:\n${p.take(2500)}")
    val clLines = p.linesIterator.filter(_.contains("collect_list")).mkString("\n")
    assert(clLines.isEmpty || clLines.contains("sub_fp"),
      s"collect_list must only gather sub-digests:\n$clLines")
  }

  test("reweighting broadcasts the rate table to a narrow probe") {
    val p = plan("d_reweight")
    assert(p.contains("BroadcastHashJoin"),
      s"per-language rates should broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"doc-side keep decision must not shuffle the corpus:\n${p.take(2000)}")
  }

  test("logprob scores through a word equi-join; only the 1-row total broadcasts") {
    val p = plan("t_logprob")
    assert(!p.contains("CartesianProduct"),
      s"corpus total attach degenerated to a cartesian:\n${p.take(2000)}")
    // The scoring join on `word` must be a real equi-join — if the
    // word join ever shows up as a nested loop the operator is O(n·V).
    // The single permitted BNLJ is the broadcast of the ONE-ROW corpus
    // total (a constant-column attach, not a pair enumeration). Count
    // tree lines only — the details section renders each node again.
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on word:\n${p.take(2000)}")
  }

  test("json extract is one aggregation pass — parse never forces extra shuffles") {
    val p = plan("q_json_extract")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"json extraction grew a join/window:\n${p.take(1500)}")
    // Partial agg → one event_type exchange → final agg, plus the
    // presentation sort's range exchange. More means the parse stopped
    // fusing into the scan stage.
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges <= 2,
      s"json extract shuffle budget exceeded ($exchanges):\n${p.take(1500)}")
  }

  test("range join bins to an equi-join — no nested-loop/cartesian") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("embedding transforms stay narrow — only the presentation sort shuffles") {
    Seq("e_normalize", "e_quantize").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n${p.take(1500)}")
      val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
      assert(exchanges <= 1,
        s"$q shuffles beyond the presentation sort ($exchanges exchanges):\n${p.take(1500)}")
    }
  }

  test("centroid streams the sub-group folds — no cell-sized row") {
    val p = plan("e_centroid")
    assert(p.contains("MapPartitions"),
      s"streaming per-sub fold stage missing:\n${p.take(2000)}")
    // one hash exchange into the fold + one over the bounded partials;
    // the presentation orderBy adds a range exchange, nothing more
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 2,
      s"expected exactly two hash exchanges, got $hashExchanges:\n${p.take(2500)}")
    // the only collect_list is over the ≤ Subs (sub, s) partials — a
    // collect_list over raw values is the whole-cell row this plan avoids
    val clLines = p.linesIterator.filter(_.contains("collect_list")).mkString("\n")
    assert(clLines.isEmpty || clLines.contains("sub"),
      s"collect_list must only gather sub partials:\n$clLines")
  }

  test("calibration diagram streams the sub-group folds — no decile-sized row") {
    val p = plan("d_classify_calib")
    assert(p.contains("MapPartitions"),
      s"streaming per-sub fold stage missing:\n${p.take(2000)}")
    // permitted collect_lists: the per-doc evidence fold (bounded by
    // Dim buckets per doc) and the ≤ CalibSubs (sub, s) partials — a
    // collect_list of (doc_id, p) structs per bin is the corpus/10-
    // sized giant row this plan exists to avoid. Inspect the struct
    // PAYLOAD, not the whole plan line (projections alongside the
    // legal folds legitimately mention doc_id).
    val cls = "collect_list\\(struct\\([^)]*".r.findAllIn(p).toList
    assert(cls.nonEmpty && cls.forall(!_.contains("doc_id")),
      s"per-bin collect over doc rows is back:\n${cls.mkString("\n")}")
  }

  test("collocations: equi-joins on words, one-row totals only, top-k is TakeOrdered") {
    val p = plan("t_collocations")
    assert(!p.contains("CartesianProduct"),
      s"total attach degenerated to a cartesian:\n${p.take(2000)}")
    // The two permitted BNLJs are the one-row nw/nb broadcasts (the
    // same constant-column attach pattern as t_logprob's total).
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 2, s"unexpected nested-loop joins ($bnlj):\n${p.take(2000)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k regressed from TakeOrderedAndProject to a global sort:\n${p.take(2000)}")
  }

  test("weighted sample is a narrow key + TakeOrdered top-k") {
    val p = plan("d_weighted_sample")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"weighted sample grew a window/join:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k regressed from TakeOrderedAndProject to a global sort:\n${p.take(2000)}")
  }

  test("retention is keyed aggregation only — no window, no all-pairs") {
    val p = plan("q_retention")
    assert(!p.contains("Window"), s"retention grew a window:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cohort attach degenerated to all-pairs:\n${p.take(1500)}")
    // the cohort min and the distinct both partial-aggregate map-side
    assert(p.contains("partial_min"), s"cohort min lost its partial:\n${p.take(2000)}")
  }

  test("mix amplifies at the scan site — narrow until the presentation sort") {
    val p = plan("d_mix")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"d_mix grew a join/window:\n${p.take(1500)}")
    assert(p.contains("Generate"), s"epoch explode missing:\n${p.take(1500)}")
    // the only exchange is the presentation orderBy's range partition
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges <= 1,
      s"expected at most the presentation-sort exchange, got $exchanges:\n${p.take(2000)}")
  }

  test("incr dedup pushes the new-snapshot predicate into its scan") {
    val p = plan("d_dedup_incr")
    assert(!p.contains("CartesianProduct"),
      s"candidate join degenerated to a cartesian:\n${p.take(2000)}")
    // The new-side branch must scan with doc_id >= incrSplit pushed
    // down — the Σ df_all·df_new (not Σ df_all²) claim rests on it.
    // (500 docs at this sf − IncrNewCount = 400.)
    assert(p.contains("GreaterThanOrEqual(doc_id,400)"),
      s"new-snapshot predicate not pushed to the parquet scan:\n${p.take(2500)}")
  }

  test("keywords: map-side-combined tf, equi-join on word, no all-pairs") {
    val p = plan("t_keywords")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"df attach degenerated to all-pairs:\n${p.take(2000)}")
    // partial_count lines witness map-side combine on both the
    // (doc,word) tf aggregation and the vocabulary df aggregation
    assert(p.contains("partial_count"),
      s"tf/df aggregation lost its map-side partial:\n${p.take(2000)}")
    assert(p.contains("Window"), s"top-k window missing:\n${p.take(2000)}")
  }

  test("upsert retires matched keys through an anti join — never all-pairs") {
    val p = plan("sc_upsert")
    assert(p.linesIterator.exists(_.contains("LeftAnti")),
      s"key-retire anti join missing:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"upsert degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("profiling aggregates are one map-side-combined pass") {
    Seq("q_histogram", "q_corr").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q grew a join/window:\n${p.take(1500)}")
      // partial agg → one group-key exchange → final agg, plus the
      // presentation sort's range exchange
      val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
      assert(exchanges <= 2,
        s"$q shuffle budget exceeded ($exchanges exchanges):\n${p.take(1500)}")
      assert(p.contains("partial"),
        s"$q lost map-side partial aggregation:\n${p.take(1500)}")
    }
  }

  test("semantic decontamination broadcasts the eval set — corpus never shuffles into the join") {
    val p = plan("d_decontaminate_emb")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled into the eval join:\n${p.take(2000)}")
    // the eval side must broadcast (a BNLJ broadcast of the tiny eval
    // frame is the expected unconditioned-join plan)
    assert(p.contains("Broadcast"),
      s"eval set stopped broadcasting:\n${p.take(2000)}")
  }

  test("knn graph pair-scores inside block tasks — no all-pairs join, bounded partials") {
    val p = plan("s_knn_graph")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"block enumeration degenerated to an all-pairs join:\n${p.take(2000)}")
    // the only collect_list gathers the size-capped block rows; the
    // scored n² pairs must surface only as the per-node heap partials
    // feeding the window merge
    assert(p.contains("Window"), s"per-node top-k merge missing:\n${p.take(2000)}")
  }

  test("range window frames over one supplier exchange") {
    val p = plan("q_range_window")
    assert(p.contains("RangeFrame"),
      s"value-based frame lost — window regressed to a rows frame:\n${p.take(2000)}")
    // one hashpartitioning(l_suppkey) exchange feeds the window; the
    // presentation orderBy adds a range exchange, nothing more
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange, got $hashExchanges:\n${p.take(2500)}")
  }

  test("funnel stages share one user_id exchange") {
    val p = plan("q_funnel")
    // three chained stage windows + the per-user aggregate must all
    // reuse the same hashpartitioning(user_id); extra exchanges mean
    // the chained-window formulation regressed to per-stage shuffles.
    // The presentation orderBy adds one range exchange; nothing more.
    // FormattedMode prints each Exchange's partitioning on its
    // Arguments line; hashpartitioning appears nowhere else here.
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange, got $hashExchanges:\n${p.take(2500)}")
  }

  test("url extraction is a pure narrow map — no join, no window, no hash shuffle") {
    val p = plan("t_url_extract")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"url parse grew a join/window:\n${p.take(1500)}")
    // only the presentation orderBy (a range exchange) may shuffle
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 0,
      s"narrow url parse shuffled ($hashExchanges hash exchanges):\n${p.take(2000)}")
  }

  test("pii redaction is a pure narrow map — no join, no window, no hash shuffle") {
    val p = plan("t_pii")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"pii pass grew a join/window:\n${p.take(1500)}")
    // only the presentation orderBy (a range exchange) may shuffle
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 0,
      s"narrow pii pass shuffled ($hashExchanges hash exchanges):\n${p.take(2000)}")
  }

  test("bigram LM joins stay key-equi — no nested-loop/cartesian") {
    val p = plan("t_bigram_lm")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bigram scoring degenerated to all-pairs:\n${p.take(2000)}")
    // shuffle budget: the (doc,w1,w2) aggregation, the two vocab
    // aggregations, the scoring joins (vocab-sized sides), the final
    // per-doc aggregation — all keyed; cap the total so a rewrite
    // that re-tokenizes per consumer or loses the cache barrier shows
    // up as a budget blowout.
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges <= 8,
      s"bigram LM shuffle budget exceeded ($hashExchanges hash exchanges):\n${p.take(2500)}")
  }

  test("dedup eval joins pairs on keys — all-pairs only via the 1-row scalars") {
    val p = plan("d_dedup_eval")
    assert(!p.contains("CartesianProduct"),
      s"d_dedup_eval degenerated to a cartesian product:\n${p.take(2000)}")
    // the only nested-loop joins allowed are the two 1-row scalar
    // crossJoins assembling the single output row (n_cand × n_truth
    // × tp); the candidate and truth sides themselves must meet on
    // (band,key) / h / (id1,id2) equi-joins
    // FormattedMode lists each operator twice (tree + detail block)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) / 2
    assert(bnlj <= 2,
      s"expected at most the 2 scalar-assembly nested loops, got $bnlj:\n${p.take(2500)}")
    assert(!p.contains("Window"), "pair counting must not plan a window")
  }

  test("isotonic recalibration: corpus side stays keyed; grids are bin-bounded") {
    val p = plan("d_classify_recal")
    assert(!p.contains("CartesianProduct"),
      s"d_classify_recal planned a cartesian product:\n${p.take(2000)}")
    // the minimax grid joins (j≤k, j≤i≤k) are deliberate non-equi
    // joins over CalibBins-row frames — nested-loop is the right
    // physical shape there; the corpus-scale half (score + bin) must
    // contribute no window and no nested loop of its own, so the
    // total stays bounded by the grid's three
    // FormattedMode lists each operator twice (tree + detail block)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) / 2
    assert(bnlj <= 3,
      s"expected at most the 3 bin-grid nested loops, got $bnlj:\n${p.take(2500)}")
    assert(!p.contains("Window"), "recal must not plan a window")
  }

  test("domain budget shuffles once on the domain key") {
    val p = plan("d_domain_budget")
    assert(!p.contains("Join"), s"domain cap grew a join:\n${p.take(1500)}")
    // unlike d_budget's few-key language budget, the domain key's
    // cardinality scales with the corpus, so a per-domain window IS
    // the right distributed shape — but exactly one hash exchange
    // (the window's), plus the presentation range sort
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 1,
      s"expected exactly one hash exchange, got $hashExchanges:\n${p.take(2500)}")
    assert(p.contains("Window"), "per-domain rank window missing")
  }

  test("gram fold is joinless: explode, two keyed exchanges, nothing else") {
    val p = plan("e_gram")
    assert(!p.contains("Join"), s"gram grew a join:\n${p.take(1500)}")
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges <= 2,
      s"gram shuffle budget exceeded ($hashExchanges):\n${p.take(2000)}")
  }

  test("semdedup pairs only inside label cells — label equi-join, no all-pairs") {
    val p = plan("d_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cell-scoped dedup degenerated to all-pairs:\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on label:\n${p.take(2000)}")
  }

  test("bm25 scores through word equi-joins; only the 1-row avgdl broadcasts") {
    val p = plan("t_bm25")
    assert(!p.contains("CartesianProduct"),
      s"bm25 grew a cartesian:\n${p.take(2000)}")
    // Query terms, postings, df, and dl all meet on key equi-joins;
    // the one permitted BNLJ is the 1-row avgdl attach (the tLogprob
    // corpus-total discipline). Anything more means the candidate
    // stream stopped being bounded by the query terms' df sum.
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on word:\n${p.take(2000)}")
  }

  test("random projection is one narrow map — literal signs, no join, no hash exchange") {
    val p = plan("e_rproject")
    assert(!p.contains("Join"), s"projection grew a join:\n${p.take(1500)}")
    assert(!p.contains("Window"), s"projection grew a window:\n${p.take(1500)}")
    // the presentation sort's range exchange is the only shuffle
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 0,
      s"sign matrix should be a plan literal, not shuffled data:\n${p.take(2000)}")
  }

  test("blocklist rules broadcast; the corpus side never hash-shuffles") {
    val p = plan("d_blocklist")
    assert(p.contains("BroadcastHashJoin"),
      s"rule tables did not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for a rule lookup:\n${p.take(2000)}")
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges == 0,
      s"corpus-side hash exchange in a broadcast-only plan:\n${p.take(2000)}")
  }

  test("profile is joinless: unpivot + one grouped aggregation chain") {
    val p = plan("q_profile")
    assert(!p.contains("Join"), s"profile grew a join:\n${p.take(1500)}")
    assert(!p.contains("Window"), s"profile grew a window:\n${p.take(1500)}")
    // distinct-aggregate rewrite: (col_name, v) partial dedup + final
    // agg — two keyed exchanges; presentation sort adds a range one
    val hashExchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(hashExchanges <= 2,
      s"profile shuffle budget exceeded ($hashExchanges):\n${p.take(2000)}")
  }

  test("training order never plans a global window or a join") {
    val p = plan("d_order")
    assert(!p.contains("Window"),
      s"global rank regressed to an ORDER BY window:\n${p.take(1500)}")
    assert(!p.contains("Join"), s"order grew a join:\n${p.take(1500)}")
  }

  test("dup spans: fingerprint equi-join, doc-keyed island windows — no all-pairs") {
    val p = plan("d_dup_spans")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"span detection degenerated to all-pairs:\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi-join on fingerprint:\n${p.take(2000)}")
  }

  test("caption pairs meet on id equi-joins — no nested-loop, no cartesian") {
    val p = plan("m_caption_pair")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"pair construction degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("resample computes the hourly frame once and stays in two exchanges") {
    // hourly feeds BOTH the span/grid side and the fill join — the
    // checkpoint barrier must hold, or the corpus scans twice
    val p = plan("q_resample")
    val parquetScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(parquetScans == 0,
      s"hourly barrier lost — raw scans re-entered the plan ($parquetScans):\n${p.take(2000)}")
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges <= 2,
      s"resample shuffle budget exceeded ($exchanges):\n${p.take(2000)}")
  }

  test("degree stats read the edge table once; pagerank's lineage is cut") {
    val pd = plan("g_degree")
    val scans = pd.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 0,
      s"edges barrier lost — the md5/parse_url derivation re-runs per consumer:\n${pd.take(2000)}")
    assert(!pd.contains("BroadcastNestedLoopJoin") && !pd.contains("CartesianProduct"))
    // pagerank returns a checkpointed frame: five iterations of
    // lineage must NOT appear in the final plan
    val pp = plan("g_pagerank")
    assert(pp.contains("Scan ExistingRDD"), s"no checkpoint scan:\n${pp.take(1500)}")
    val ex = pp.linesIterator.count(_.contains("- Exchange ("))
    assert(ex <= 1, s"pagerank tail shuffles beyond the presentation sort ($ex):\n${pp.take(1500)}")
  }

  test("heavy hitters recount is joinless; the MG pass partial-aggregates map-side") {
    val p = plan("t_heavy_hitters")
    assert(!p.contains("Join"), s"candidate recount grew a join:\n${p.take(2000)}")
    // the sketch pass itself: the MG aggregate must show a partial
    // (map-side) phase before the single final-merge exchange
    val toks = graft.core.Tables(spark, sf).documents
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.words(
          org.apache.spark.sql.functions.col("text"))).as("word"))
    val mg = toks.agg(graft.functions.expr.SketchAggregates
      .misraGries(org.apache.spark.sql.functions.col("word"),
        graft.operators.TextAnalysis.HhK))
      .queryExecution.explainString(FormattedMode)
    assert(mg.contains("partial_graft_misra_gries"),
      s"MG aggregate lost its map-side partial phase:\n${mg.take(2000)}")
  }

  test("radius search is a stateless broadcast scan — only the presentation sort shuffles") {
    val p = plan("s_ann_range")
    // the inequality join condition (query ≠ neighbor) with a 5-row
    // broadcast side IS the intended broadcast scan — BNLJ here is
    // the algorithm, not a degeneracy (contrast the pair-join specs,
    // where BNLJ would mean corpus×corpus)
    assert(p.contains("BroadcastExchange"),
      s"queries not broadcast:\n${p.take(1500)}")
    assert(!p.contains("Window") && !p.contains("HashAggregate"),
      s"radius tail grew per-query state:\n${p.take(1500)}")
    // budget: the two conditional Tables.spread local-layout
    // repartitions (no-ops at scale) + the presentation sort
    val exchanges = p.linesIterator.count(_.contains("- Exchange ("))
    assert(exchanges <= 3,
      s"radius search shuffles beyond spread + presentation ($exchanges):\n${p.take(1500)}")
  }

  test("bpe encode broadcasts the vocabulary onto per-doc words") {
    val p = plan("t_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n${p.take(2000)}")
  }

  test("hybrid RRF fuses rank lists; each arm keeps its scan discipline") {
    val p = plan("t_hybrid_rrf")
    // vector arm: broadcast queries + per-partition bounded heap —
    // the s_ann_brute plan; its ≠-condition broadcast join is the one
    // tolerated nested loop (the algorithm, not a degeneracy)
    assert(p.contains("MapPartitions"),
      s"vector arm's per-partition top-k stage missing:\n${p.take(2000)}")
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 1 && !p.contains("CartesianProduct"),
      s"fusion or lexical arm degenerated to nested loops ($bnlj):\n${p.take(2500)}")
    // the fusion itself joins two rank lists — an equi-join, never a
    // corpus-touching op
    assert(p.contains("FullOuter"),
      s"rank-list fusion join missing:\n${p.take(2000)}")
  }

  test("log-gated store read filters logged tombstones with an InSet, no join") {
    val p = plan("sc_log_read")
    // the handle's tombstone rowids arrive as a literal set in a
    // filter over the scan; the tombstone files are not part of the
    // query, so nothing joins against them
    assert(p.contains("INSET"),
      s"tombstone InSet filter missing:\n${p.take(2000)}")
    assert(!p.contains("LeftAnti") && !p.linesIterator.exists(_.contains("Join")),
      s"a join over the tombstones crept back:\n${p.take(2000)}")
    assert(!p.contains("_graft_tombstones"),
      s"tombstone files scanned inside the query:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n${p.take(2000)}")
  }

  test("jsd grid is vocab-bounded: totals broadcast, no cartesian, one corpus scan") {
    val p = plan("t_jsd")
    assert(!p.contains("CartesianProduct"),
      s"grid build degenerated to a cartesian:\n${p.take(2000)}")
    // per-source totals and the 1-row corpus total attach as
    // broadcasts (BNLJ on a handful of rows); the (source, word)
    // grid↔counts meet must stay a hash join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals not broadcast:\n${p.take(2000)}")
    // the cached counts frame is the single reader of the corpus:
    // every consumer (corpus vocab, per-source totals, grid probe)
    // must reuse it, not re-derive the explode. In FormattedMode the
    // shared cache renders as InMemoryTableScans whose bodies all
    // reference ONE scan node — count the DISTINCT "(n) Scan parquet"
    // detail headers (dropping the cache would give each consumer its
    // own scan node id).
    assert(p.contains("InMemoryTableScan"),
      s"counts frame not cached:\n${p.take(2000)}")
    val scanHeaders = p.linesIterator
      .filter(_.matches("""\(\d+\) Scan parquet\s*""")).toSeq.distinct
    assert(scanHeaders.size == 1,
      s"corpus scanned via ${scanHeaders.size} distinct scan nodes:\n$scanHeaders")
  }

  test("drift carries both snapshots in one conditional-sum aggregation — one scan, no split join") {
    val p = plan("t_drift")
    assert(!p.contains("CartesianProduct"),
      s"snapshot meet degenerated to a cartesian:\n${p.take(2000)}")
    // both snapshot counts ride ONE grouped aggregation over the
    // cached explode — a base/delta self-join would re-scan the corpus
    assert(p.contains("InMemoryTableScan"),
      s"counts frame not cached:\n${p.take(2000)}")
    val scanHeaders = p.linesIterator
      .filter(_.matches("""\(\d+\) Scan parquet\s*""")).toSeq.distinct
    assert(scanHeaders.size == 1,
      s"corpus scanned via ${scanHeaders.size} distinct scan nodes:\n$scanHeaders")
    // per-source totals attach as a broadcast, never a shuffle join
    assert(!p.contains("SortMergeJoin"),
      s"totals meet shuffled:\n${p.take(2000)}")
  }

  test("cc labeling joins stay hash joins over checkpointed stars — no cartesian, no collect") {
    // building the frame runs the contraction loop; the asserted plan
    // is the final labeling stage
    val p = plan("g_cc")
    assert(!p.contains("CartesianProduct"),
      s"labeling degenerated to all-pairs:\n${p.take(2000)}")
    assert(!p.contains("collect_list"),
      s"a neighborhood collected into one row:\n${p.take(2000)}")
  }

  test("phash candidates come from the banding equi-join, never all-pairs") {
    val p = plan("m_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phash degenerated to all-pairs:\n${p.take(2000)}")
    // the signature frame is frozen once (lazy localCheckpoint — an
    // ExistingRDD scan) and read by the 4-band union — without the
    // barrier the histogram fold re-runs per band
    assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan"),
      s"signature frame not materialized once:\n${p.take(2000)}")
    // signatures are a narrow map: the only exchanges are the banding
    // join's (band, value) hash partitioning and the pair dedup — no
    // (doc, bin) explode shuffle feeding the histogram
    assert(!p.contains("Window"), s"phash grew a window:\n${p.take(2000)}")
  }

  test("triangle counting stays on hash equi-joins — no all-pairs, no window") {
    val p = plan("g_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge join degenerated to all-pairs:\n${p.take(2000)}")
    assert(!p.contains("Window"), s"triangles grew a window:\n${p.take(1500)}")
  }

  test("silhouette distances fold narrowly — one broadcast, no N×K shuffle join") {
    val p = plan("e_silhouette")
    // the K prototypes attach as a one-row broadcast; a SortMergeJoin
    // or shuffled hash join here would mean the grid materialized as
    // N×K shuffled rows instead of a per-row array fold
    assert(!p.contains("SortMergeJoin"),
      s"centroid attach shuffled:\n${p.take(2000)}")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"prototypes not broadcast:\n${p.take(2000)}")
    assert(!p.contains("Window"), s"silhouette grew a window:\n${p.take(1500)}")
  }

  test("url quality filter is a pure narrow map — no join, window, or aggregate") {
    val p = plan("t_url_quality")
    assert(!p.contains("Join"), s"url filter grew a join:\n${p.take(1500)}")
    assert(!p.contains("Window"), s"url filter grew a window:\n${p.take(1500)}")
    assert(!p.contains("HashAggregate"),
      s"url filter grew an aggregate:\n${p.take(1500)}")
    // the only exchange is the presentation sort's range partitioning
    assert(!p.contains("hashpartitioning("),
      s"url filter shuffled:\n${p.take(1500)}")
  }

  test("ppl bucketing never plans a global window or a join") {
    val p = plan("d_ppl_bucket")
    assert(!p.contains("Window"),
      s"global rank regressed to an ORDER BY window:\n${p.take(1500)}")
    // the scored input joins word→corpus-frequency upstream; the RANK
    // stage itself must stay join-free past the frozen scored frame
    // (per-call lazy localCheckpoint — an ExistingRDD scan)
    assert(p.contains("ExistingRDD") || p.contains("InMemoryTableScan"),
      s"pinned range-partitioned frame not materialized:\n${p.take(1500)}")
  }

  test("skew audit: top-k per column is TakeOrdered heaps, never a rank window") {
    val p = plan("q_skew_audit")
    // a row_number window partitioned by col_name would single-reduce
    // each column's ndv-sized count frame (3 columns = 3 reducers)
    assert(!p.contains("Window"),
      s"skew audit regressed to a rank window:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"per-column top-k is not a bounded heap:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") &&
      !p.linesIterator.exists(l => l.contains("SortMergeJoin")),
      s"totals attach must broadcast:\n${p.take(1500)}")
  }

  test("partition hist: one keyed count, broadcast totals, no window") {
    val p = plan("q_partition_hist")
    // bucket counts group on (col, bucket) — cols×B keys, uniform by
    // construction; per-column totals are a 3-row broadcast attach
    assert(!p.contains("Window"),
      s"partition hist grew a window:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"totals attach must broadcast:\n${p.take(1500)}")
  }

  test("broadcast audit: pure per-table single-row aggregates — no joins, no windows") {
    val p = plan("q_broadcast_audit")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"broadcast audit must be scan+agg only:\n${p.take(1500)}")
  }

  test("join plan: stats frozen once, tiny spec joins broadcast") {
    val p = plan("q_join_plan")
    assert(!p.contains("Window"), s"join plan grew a window:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 4-row spec must meet the 5-row stats by broadcast:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"spec-to-stats joins must be broadcast-hash:\n${p.take(1500)}")
    // the stats frame is a frozen RDD read twice — the five table
    // scans must not appear (re-run) once per join side
    assert(p.contains("ExistingRDD") && !p.contains("Scan parquet"),
      s"table stats re-scan instead of the frozen frame:\n${p.take(1500)}")
  }

  test("decontam scrub: set-probe join + doc-keyed windows, no all-pairs") {
    val p = plan("d_decontam_scrub")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"scrub regressed to an all-pairs shape:\n${p.take(1500)}")
  }

  test("mix plan: one keyed aggregation, one-row broadcast total, no window") {
    val p = plan("d_mix_plan")
    assert(!p.contains("Window"), s"mix plan grew a window:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      s"1-row totals met a shuffle join:\n${p.take(1500)}")
    // the only nested-loop join allowed is the 1-row totals crossJoin
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) / 2
    assert(bnlj <= 1, s"expected at most the totals cross, got $bnlj")
  }

  test("datacard streams the sub-group quality folds — no source-sized row") {
    val p = plan("d_datacard")
    assert(p.contains("MapPartitions"),
      s"streaming per-sub fold stage missing:\n${p.take(2000)}")
    // the only collect_list is over the ≤ DatacardSubs (sub, s)
    // partials — a per-source collect_list over raw quality scores is
    // the docs-per-source row this plan exists to avoid
    val clLines = p.linesIterator.filter(_.contains("collect_list")).mkString("\n")
    assert(clLines.nonEmpty && clLines.linesIterator.forall(_.contains("sub")),
      s"collect_list must only gather sub partials:\n$clLines")
    assert(!p.contains("collect_list(quality"),
      s"raw per-source quality list is back:\n$clLines")
  }

  test("label propagation: hash joins + partial-agg argmax, no neighborhood row") {
    val p = plan("g_labelprop")
    // votes must combine map-side (min over structs) — a collected
    // neighborhood per node is the hub-killer LPA exists to avoid
    assert(!p.contains("collect_list") && !p.contains("sort_array"),
      s"LPA gathered a neighborhood into a row:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LPA degenerated to all-pairs:\n${p.take(2000)}")
    assert(!p.contains("Window"), "LPA must not plan a window")
  }

  test("modularity: keyed integer aggs + 1-row broadcast total, no neighborhood row") {
    val p = plan("g_modularity")
    // the label attaches and intra-edge sum are hash equi-joins with
    // map-side-combined integer aggregation — never a collected
    // neighborhood; the only nested loop is the 1-row two_m attach
    assert(!p.contains("collect_list") && !p.contains("sort_array"),
      s"modularity gathered a neighborhood into a row:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"modularity degenerated:\n${p.take(2000)}")
    val bnlj = p.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row two_m attach may nest-loop ($bnlj)")
    assert(!p.contains("Window"), "modularity must not plan a window")
  }

  test("jaccard link prediction: wedge equi-joins only, no all-pairs") {
    val p = plan("g_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"candidate generation degenerated to all-pairs:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("collect_list"),
      s"pair scoring grew a window/neighborhood row:\n${p.take(2000)}")
  }

  test("url dedup: narrow canonicalization + one keyed group stat, no window") {
    val p = plan("d_dedup_url")
    assert(!p.contains("Window"), s"url dedup planned a window:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"group-stat attach degenerated:\n${p.take(2000)}")
  }

  test("ndcg runs on rank lists: dimension joins broadcast, folds stay k-bounded") {
    val p = plan("t_ndcg")
    // the (doc_id, source) dimension and the per-query IDCG frame
    // must broadcast — a shuffled corpus-side join would mean the
    // eval left the rank-list tier
    assert(p.contains("BroadcastHashJoin"),
      s"weak-label dimension join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"ndcg planned a cartesian:\n${p.take(2000)}")
  }
}
