package graft.queries

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec}
import graft.functions.VectorFunctions

/** Physical-plan audits on the sf0.001 tables: the properties that
  * decide whether these plans survive a 100 TB scale-up — filters and
  * projections pushed into the parquet scan, small sides broadcast,
  * and no accidental all-pairs joins anywhere in the surface. */
class PlanSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("B1: selective filter reaches the parquet scan (PushedFilters)") {
    val p = plan("q6_selective_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
  }

  test("B1: projection pruning — q6 reads only the 4 needed columns") {
    val p = plan("q6_selective_filter")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"column not pruned: $readSchema")
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("A3-A4: FDR classify is a map lookup — no join, no broadcast exchange") {
    import java.nio.file.Files
    import graft.sources.FdrSource
    val dir = Files.createTempDirectory("fdr-plan")
    val w = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("a.gz"))))
    w.println("""{"event_simpleName":"DnsRequest","id":"p-1","timestamp":"1700000001000"}""")
    w.close()
    val loaded = FdrSource.loadWithQuarantine(spark, dir.toString)
    Seq("load" -> FdrSource.load(spark, dir.toString),
        "classified" -> loaded.classified,
        "quarantined" -> loaded.quarantined).foreach { case (name, df) =>
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.isEmpty, s"$name joins:\n${df.queryExecution.optimizedPlan}")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange") && !p.contains("Join"), s"$name:\n$p")
    }
    assert(FdrSource.load(spark, dir.toString).count() == 1)
  }

  test("B3: dimension sides of the star joins broadcast") {
    assert(plan("q3_join_agg").contains("BroadcastHashJoin"))
    assert(plan("q5_multijoin").contains("BroadcastHashJoin"))
  }

  test("B4/B5: semi and anti joins plan as such, not as filters on full joins") {
    assert(plan("q4_semijoin").contains("LeftSemi"))
    assert(plan("q16_antijoin").contains("LeftAnti"))
  }

  test("B4c: SQL correlated EXISTS decorrelates to the same LeftSemi join") {
    val p = plan("q26_exists_correlated")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("B2: grouped agg has map-side partial aggregation") {
    val p = plan("q1_agg")
    // two HashAggregate nodes (partial + final) around the exchange
    // (pre-execution AQE plans don't render WholeStageCodegen spans)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_sum"), p)
  }

  test("no query in the surface plans a CartesianProduct") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name goes all-pairs:\n$p")
    }
  }

  test("B16: JSON extraction parses each payload once (from_json, not per-path)") {
    val p = plan("q_events_json")
    assert(p.contains("from_json"), p)
    // get_json_object re-parses the string per extracted path — the
    // wrong shape for wide payloads at scale
    assert(!p.contains("get_json_object"), p)
  }

  test("B10: top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q9_topk").contains("TakeOrderedAndProject"))
  }

  test("C13: TF-IDF top-3 uses WindowGroupLimit and broadcasts the df side") {
    val p = plan("q_doc_tfidf")
    // rank() <= 3 prunes per-group BEFORE the window exchange — at
    // scale the shuffle carries ~3 rows/doc, not every (doc, term)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("C14: sampling scan prunes to the 3 projected columns") {
    val readSchema = plan("q_doc_sample").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"columns not pruned: $readSchema")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang"), readSchema)
  }

  test("C17: packing's corpus-sized window partitions by bucket, not globally") {
    val p = plan("q_doc_pack")
    // the only acceptable single-partition window is the bucket-offset
    // cumsum over numBuckets rows; the full-corpus cumsum must hash-
    // partition by _bucket. Count Window nodes: both present, and the
    // corpus-side one carries the _bucket partition spec.
    assert(p.contains("Window"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionspec=[_bucket") ||
        l.contains("Window") && l.contains("[_bucket")), p)
    // the bucket-offset side broadcasts back to the corpus
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("C18: mix sampling broadcasts the per-source cutoffs") {
    val p = plan("q_doc_mix_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("C22: PII redaction is map-only — zero exchanges, one codegen span") {
    val p = plan("q_doc_redact")
    assert(!p.contains("Exchange"), p)
    // the `*(1)` prefix marks the single WholeStageCodegen span
    assert(p.contains("*(1) Project"), p)
  }

  test("C41: per-source cap plans WindowGroupLimit — no key fully sorts") {
    val p = plan("q_doc_source_cap")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("C35: cluster sample plans WindowGroupLimit and no unbounded-frame window") {
    val p = plan("q_emb_cluster_sample")
    // the rank window must group-limit (each cell keeps perCell rows
    // through the sort) and cell_size must NOT be a count-over-cell
    // window — an unbounded frame defeats the group limit and forces
    // every hot cell through one task; it is a k-row groupBy joined
    // back broadcast instead
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.toLowerCase.contains("unboundedfollowing"),
      s"cell_size regressed to an unbounded-frame window:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("C40: secret detection — exactly the one spread exchange, compute above it, no UDF") {
    val p = plan("q_doc_secrets")
    // ONE deliberate repartition spreads the CPU-heavy narrow entropy
    // pass across cores (the gate corpora arrive as a single parquet
    // row group = one task otherwise; r15, 20 s -> 2 s at the decade
    // corpus). Anything beyond that one exchange — an aggregation or
    // join sneaking in — is a regression.
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the one repartition exchange:\n$p")
    assert(p.contains("REPARTITION_BY_NUM"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("C23: LM scoring is all partial-agg'd joins — no window, no skew cliff") {
    val p = plan("q_doc_lm_score")
    // a c-over-gram Window would pin every occurrence of the hottest
    // bigram to one unsplittable task; the aggregate+join shape keeps
    // map-side combine everywhere and stays AQE-skew-splittable
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("C26: semdedup's pair join shuffles on the block key, never all-pairs") {
    val p = plan("q_emb_semdedup")
    // both self-join sides hash-partition on `block` — the bounded
    // shuffle key; the global no-CartesianProduct test already covers
    // the all-pairs failure mode, this pins the key itself
    assert(p.contains("hashpartitioning(block"), p)
    assert(p.contains("graft_cosine"), p) // fused codegen'd probe, not the HOF
  }

  test("C2e: the incremental screen PROBES the index — delta broadcasts, index never shuffled or sorted (r19)") {
    import graft.operators.Dedup
    import spark.implicits._
    val idx = Dedup.minhashBandBuckets(
      graft.sources.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")), "text", "doc_id")
    val delta = Seq((900001L, "a small delta document about stream " +
      "probes and broadcast joins")).toDF("doc_id", "text")
    val p = Dedup.incrementalMinhashPairs(idx, delta, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // both the inner probe and the delta-local anti-join broadcast the
    // delta side; the corpus index streams map-side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"index side must not shuffle+sort: $p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("C27: DSIR joins the 256-row model by broadcast, totals by 1-row BNLJ") {
    val p = plan("q_doc_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop is the 1-row totals broadcast
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p) // token counts combine map-side
  }

  test("C28: sharding's corpus-sized window partitions by bucket, not globally") {
    val p = plan("q_doc_shards")
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("_bucket")), p)
    assert(p.contains("BroadcastHashJoin"), p) // 16-row offsets broadcast back
  }

  test("C36: epoch shuffle's corpus-sized window partitions by bucket, not globally") {
    val p = plan("q_doc_epoch_shuffle")
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("_bucket")), p)
    assert(p.contains("BroadcastHashJoin"), p) // 256-row offsets broadcast back
  }

  test("C29: chunking is map-only — zero exchanges at any corpus size") {
    val p = plan("q_doc_chunks")
    assert(!p.contains("Exchange"), p)
  }

  test("OCSF lake: nested schema pruning — dns query reads only the referenced struct leaves") {
    val p = plan("q_ocsf_lake_dns_family")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("query:struct<hostname:string>"),
      s"query struct not pruned to hostname: $readSchema")
    assert(readSchema.contains("src_endpoint:struct<uid:string>"),
      s"src_endpoint not pruned to uid: $readSchema")
    // untouched wide columns must not reach the scan
    assert(!readSchema.contains("observables"), readSchema)
    assert(!readSchema.contains("metadata"), readSchema)
    assert(!readSchema.contains("opcode"), readSchema)
  }

  test("OCSF lake: nested-leaf predicate pushes to the parquet scan") {
    val p = plan("q_ocsf_lake_dns_family")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("query.hostname"),
      s"nested predicate not pushed: $pushed")
  }

  test("OCSF lake: eventDay predicate prunes partitions, not rows") {
    val p = plan("q_ocsf_lake_day_classes")
    val scans = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty, p)
    assert(scans.forall(_.contains("eventDay")),
      s"partition filter missing eventDay:\n${scans.mkString("\n")}")
  }

  test("C45: URL dedup is normalize(map-only) + hash agg — no window, no join") {
    val p = plan("q_doc_url_dedup")
    assert(!p.contains("Window"), s"URL dedup must not window:\n$p")
    assert(!p.contains("Join"), s"URL dedup must not join:\n$p")
    // the only shuffles are the aggregation's (count-distinct plans a
    // two-level agg); the normalize itself adds zero exchanges
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("C46: cross-corpus LM scoring joins on gram keys, never windows them") {
    val p = plan("q_doc_lm_crossentropy")
    // a window over gram would pin every occurrence of the hottest
    // bigram to one unsplittable task — the C23 stance, re-pinned here
    assert(!p.contains("Window"), s"LM scoring must not window:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("C52: gopher battery is MAP-ONLY — zero exchanges, no explode, no window") {
    val p = plan("q_doc_gopher")
    assert(!p.contains("Exchange"), s"gopher must not shuffle:\n$p")
    assert(!p.contains("Window"), p)
    // top-token count folds over the sorted array — never an
    // explode+groupBy that would shuffle every corpus token
    assert(!p.contains("Generate"), s"gopher must not explode:\n$p")
  }

  test("C55: datasheet is one partial-agg'd groupBy on source") {
    val p = plan("q_doc_datasheet")
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
  }

  test("C54: decontam scrub broadcasts the eval grams; no cartesian anywhere") {
    val p = plan("q_doc_decontam_scrub")
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
  }

  test("C58: incremental exact dedup keys its agg and anti-join on the hash") {
    val p = plan("q_doc_exact_incremental")
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("C64: preference pairing plans WindowGroupLimit — no group ever fully sorts") {
    val p = plan("q_doc_preference_pairs")
    assert(p.contains("WindowGroupLimit"), s"rank<=1 must push into the window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("C91: bitext mining broadcasts the target slice; top-2 plans WindowGroupLimit") {
    val p = plan("q_emb_bitext")
    // the scoring join must take the target-language slice broadcast
    // (BroadcastNestedLoopJoin) — an unhinted cross join would plan the
    // CartesianProduct the surface pin forbids — and the per-source
    // top-2 must group-limit so the pair relation never fully sorts
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("WindowGroupLimit"), s"rank<=2 must push into the window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("C92: symmetric bitext group-limits BOTH direction windows; no cartesian") {
    val p = plan("q_emb_bitext_sym")
    // r19: the probe-bounded scored relation is materialized ONCE at
    // construction (mineBitextSymmetric localCheckpoints it so the two
    // direction windows stop re-running the probe + scoring subtree) —
    // the serving plan therefore reads a checkpointed RDD instead of
    // containing the probe's BroadcastNestedLoopJoin, and the scoring
    // subtree must appear ZERO times here (twice was the r18 shape)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD"),
      s"scored relation must be the materialized checkpoint:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"scoring must not re-run inside the serving plan:\n$p")
    // both the per-source and per-target top-2 must group-limit — a
    // full sort of the pair relation in either direction is the
    // quadratic shuffle the design avoids
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"both direction windows must group-limit:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("C60: BM25 aggregates only query-term postings; stats sides broadcast") {
    val p = plan("q_doc_bm25")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrdered"), s"top-20 must be TakeOrdered, not a global sort:\n$p")
  }

  test("C63: chat-turn offsets window partitions by doc, never corpus-wide") {
    val p = plan("q_doc_chat_turns")
    // the offset window's partition key must be the doc id — an
    // unpartitioned window would serialize the corpus on one task
    val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    assert(winLine.contains("doc_id"), s"window not doc-partitioned: $winLine")
  }

  test("C72: the funnel report joins nothing — one scan feeds every stage flag") {
    // the gopher battery is carried through the same select (the
    // `carry` pass-through), so the only plan nodes between scan and
    // the 1-row aggregate are projections, a hash-partitioned window
    // and the aggregate itself — a join here would mean the metric
    // relation got recomputed and joined back on doc_id
    val p = plan("q_doc_filter_funnel")
    assert(!p.contains("Join"), s"funnel must stay single-scan:\n$p")
    assert(p.contains("Window"), "dedup keeper window missing")
  }

  test("C70/C73: fuzzy and span candidate generation shuffle on content keys, never all-pairs") {
    Seq("q_doc_fuzzy_pairs", "q_doc_max_spans").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q goes all-pairs:\n$p")
    }
  }

  test("C98: OOV coverage broadcasts the 1000-row vocab; top-1000 cut is TakeOrdered, not a global sort") {
    val p = plan("q_doc_oov")
    assert(p.contains("BroadcastHashJoin"), s"vocab side must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"vocab cut must heap, not sort:\n$p")
  }

  test("C94: random-projection serve is two TakeOrdered tiers over map-only scans") {
    val p = plan("q_emb_rp_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only joins are the broadcast 1-row query sides — the corpus
    // never shuffles on its way to either rank tier
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("C93: HITS rounds broadcast the node-sized sides on a small graph") {
    assert(plan("q_graph_hits").contains("BroadcastHashJoin"))
  }

  test("native graft_cosine matches the HOF cosine exactly") {
    import spark.implicits._
    val vecs = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0)) // zero norm → 0.0
    ).toDF("a", "b")
    val r = vecs.select(
      VectorFunctions.cosineNative(col("a"), col("b")).as("native"),
      VectorFunctions.cosine(col("a"), col("b")).as("hof")).collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1), row.toString))
  }

  test("C69p: the portable PCA projection is map-only — no exchange anywhere in the plan") {
    // one scan → quantize → k broadcast-literal dot products →
    // posexplode → project; a shuffle here would mean the model
    // accidentally became a joined relation instead of literals
    val p = plan("q_emb_pca")
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
  }

  test("C53b: the unigram encode joins the model-sized vocab broadcast, never shuffled") {
    val p = plan("q_doc_unigram_encode")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast (model-sized side):\n$p")
  }
}
