package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Physical-plan regression guards for the scale-critical claims made in
  * SCALING.md — a plan that silently degrades (lost broadcast, lost
  * pushdown, global sort instead of top-k) should fail CI, not surface
  * in a 100 TB run.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("star join broadcasts the dimensions and pushes the date filter") {
    val p = plan(Joins.starJoin(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate"), p)
  }

  test("projection prunes the lineitem scan to the selected columns") {
    val p = plan(Relational.selectProject(spark, dir))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_shipdate"))
    assert(!read.contains("l_partkey") && !read.contains("l_tax"), read)
  }

  test("per-group top-k plans a partial WindowGroupLimit before the exchange") {
    val p = plan(Analytics.topKPerGroup(spark, dir))
    // InferWindowGroupLimit must rewrite the row_number()<=k filter into
    // map-side (Partial) + reduce-side (Final) group limits: the shuffle
    // then carries at most k rows per group per map task, never the full
    // table — the property that makes per-group top-k viable at 100 TB.
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")), p)
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Final")), p)
  }

  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime bloom filter prunes lineitem⋈orders once scan sizes warrant it") {
    // At toy scale the default thresholds (10 MB creation side / 10 GB
    // application side) correctly keep the filter out; drop them to the
    // values this fixture represents-at-scale and the optimizer must
    // sketch the date-filtered orders keys and apply them to the lineitem
    // side before its exchange.
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Joins.starJoin(spark, dir))
      assert(p.contains("BloomFilterMightContain")
        || p.toLowerCase.contains("bloomfilter"), p)
    }
    // and with production thresholds at toy scale: no bloom overhead
    val p = plan(Joins.starJoin(spark, dir))
    assert(!p.toLowerCase.contains("bloomfilter"), p)
  }

  test("tfidf: postings checkpointed, df via groupBy+join — only the " +
      "corpus-count branch re-touches parquet, and no window keys on term") {
    val df = TextAnalysis.tfidfTop(spark, dir)
    val p = plan(df)
    // tf is checkpointed: the df branch and the scoring join read the
    // materialized RDD, so the n_docs count is the only parquet re-scan
    assert("Scan parquet".r.findAllIn(p).size <= 1, p)
    assert(p.contains("Scan ExistingRDD"), p)
    assertWindowsKeyOnlyOnDocId(df)
  }

  /** The hot-key window guard (round-4 verdict, systemic defect #1): a
    * window partitioned on a term/span/prefix key co-locates every row
    * carrying that key in ONE task — a single-task sort of O(corpus)
    * rows for "the" at web scale, and AQE skew handling splits join and
    * rebalance partitions, never window partitions. Per-document windows
    * are fine (bounded by document length), so the assertion is: every
    * Window node in the optimized plan partitions by doc_id alone.
    */
  private def assertWindowsKeyOnlyOnDocId(
      df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    wins.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
      assert(keys == Seq("doc_id"),
        s"window partitioned on ${keys.mkString(",")} — hot-key single-task " +
          s"risk at corpus scale:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("cluster-balanced sample: broadcast argmin assignment and a " +
      "partial WindowGroupLimit cap — the corpus never shuffles whole") {
    val p = plan(Sampling.clusterBalancedSample(spark, dir))
    // centroid assignment collapses map-side (no per-candidate shuffle)
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"), p)
    // the per-cell cap forwards <= k rows per cell per map task
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")), p)
  }

  test("subsample CI is one-pass: no join/cross-product/expand, one scan") {
    val df = Aggregates.subsampleCI(spark, dir)
    val p = plan(df)
    // the r5 shape crossJoined a 32-row replicate spine onto the fact —
    // reps× the hashing volume; the one-pass rewrite must keep every
    // replicate membership inside a single aggregation over ONE scan
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoop"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val joins = df.queryExecution.optimizedPlan.collect { case j: LJoin => j }
    assert(joins.isEmpty, s"expected join-free plan:\n$joins")
  }

  test("outlier filter broadcasts the per-group cuts onto the fact scan") {
    val p = plan(Aggregates.priceOutliers(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hash sampling is a pure narrow filter: no exchange before the final sort") {
    val p = plan(Sampling.hashSample(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, p) // only the ORDER BY range exchange
  }

  test("quality logit and embedding quantization are narrow scan-speed maps") {
    for (df <- Seq(TextAnalysis.qualityLogit(spark, dir),
        Similarity.quantizeEmbeddings(spark, dir))) {
      val p = plan(df)
      assert("Exchange".r.findAllIn(p).size == 1, p) // only the ORDER BY
      assert(!p.contains("Join"), p)
    }
  }

  test("split assignment is a narrow map over the documents scan") {
    val p = plan(Sampling.splitAssign(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("corpus drift: one count shuffle, TakeOrdered vocabulary, broadcast totals") {
    val p = plan(TextAnalysis.corpusDrift(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p) // top-k vocab, no global sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("temperature cap broadcasts the per-source caps onto the stratum window") {
    val p = plan(Sampling.temperatureCap(spark, dir))
    // the caps frame (rows = #sources) must come in as a broadcast, never
    // a shuffle join against the document universe
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("decontamination broadcasts the eval shingles; corpus never shuffles") {
    val p = plan(Dedup.decontaminate(spark, dir))
    // semi-join of exploded corpus vs eval hashes AND anti-join back onto
    // the corpus must both be broadcast — the 100 TB side stays in place
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only shuffles: the two distinct()s on the SMALL sides (eval
    // hashes, contaminated ids — both pre-broadcast) + the final ORDER BY
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("inverted index is one explode + one partial-agg shuffle") {
    val p = plan(TextAnalysis.invertedIndex(spark, dir))
    assert("Generate".r.findAllIn(p).size == 1, p)
    // partial collect_set before the exchange (ObjectHashAggregate x2)
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2, p)
  }

  test("repetition score is a narrow map: no exchange before the final sort") {
    val p = plan(TextAnalysis.repetitionScore(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("rfm scores without a window: broadcast cuts, no ntile sort") {
    val p = plan(Aggregates.rfmSegments(spark, dir))
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("status periods share one o_custkey exchange across both windows") {
    val p = plan(Analytics.statusPeriods(spark, dir))
    assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1, p)
  }

  test("funnel computes all three stages over ONE user_id exchange") {
    val p = plan(Analytics.funnel(spark, dir))
    // three conditional-min windows + the per-user aggregate all share
    // the user_id partitioning; only the stage rollup adds a second hash
    // exchange, then the final ORDER BY ranges
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
  }

  test("boilerplate share: checkpointed spans, semi-join membership, " +
      "df via groupBy — no window at all, no parquet re-scan") {
    val df = TextAnalysis.boilerplateShare(spark, dir)
    val p = plan(df)
    // spans are checkpointed: df, per-doc totals, and the semi join all
    // read the materialized RDD; the documents parquet never re-scans
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Window"), p)
    // hot-span membership must be a (skew-splittable) semi join
    assert(p.contains("LeftSemi"), p)
    assertWindowsKeyOnlyOnDocId(df)
  }

  test("pii scrub is a narrow map: no exchange before the final sort") {
    val p = plan(graft.operators.Privacy.piiScrub(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("sliding windows expand rows but aggregate map-side first") {
    val p = plan(Analytics.eventsSliding(spark, dir))
    // the 2-windows-per-event assignment is an Expand/Generate BELOW a
    // partial HashAggregate — the exchange carries per-window partials,
    // never the fanned-out event rows
    val expand = p.linesIterator.indexWhere(
      l => l.contains("Expand") || l.contains("Generate"))
    val partial = p.linesIterator.indexWhere(
      l => l.contains("HashAggregate") && l.contains("partial"))
    assert(expand >= 0 && partial >= 0 && partial < expand, p)
  }

  test("as-of join exchanges once on user_id (no range join)") {
    val p = plan(Joins.asofJoin(spark, dir))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("gopher rules gate is a narrow scan-speed map") {
    val p = plan(TextAnalysis.gopherRules(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, p) // only the ORDER BY
    assert(!p.contains("Join"), p)
  }

  test("top-ngram share aggregates the exploded bigrams map-side first") {
    val p = plan(TextAnalysis.topNgramShare(spark, dir))
    // the per-(doc,bigram) count must partial-aggregate below its
    // exchange: the shuffle carries counted bigrams, not the raw explode
    val gen = p.linesIterator.indexWhere(_.contains("Generate"))
    val partial = p.linesIterator.indexWhere(
      l => l.contains("HashAggregate") && l.contains("partial_count"))
    assert(gen >= 0 && partial >= 0 && partial < gen, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("domain mix weights: one aggregation + broadcast scalar, no window") {
    val p = plan(Sampling.domainMixWeights(spark, dir))
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hard negatives broadcast the centroids onto the corpus pass") {
    val p = plan(Similarity.hardNegatives(spark, dir))
    // the #labels*d centroid frame joins in as a broadcast; the corpus
    // side must never shuffle before the per-label top-k window
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p) // rank<=k prunes map-side
  }

  test("composed curation reads the documents table a bounded number of times") {
    // TextCuration.keptAfterDedupFrom's contract: the quality+decontam
    // chain is checkpointed before feeding its three dedup-stage
    // consumers, so the downstream plan scans the checkpoint RDD, NOT the
    // documents parquet. The file scans that remain are the chain itself:
    // the quality-gate scan, the eval-split scan, and the decontamination
    // anti-join's re-read of its train side — a fixed count, independent
    // of how many consumers the dedup stage adds. An unmaterialized chain
    // would multiply quality+decontam (and its joins) per consumer and
    // this count would jump.
    val p = plan(graft.pipeline.TextCuration.run(spark, dir))
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 4, s"documents scanned $docScans times:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      "expected the checkpointed decontam frame in the plan:\n" + p)
  }

  test("dup-span coverage never forms pairs: no join wider than the " +
      "shingle-hash equi-join, all aggs partial") {
    val p = plan(Dedup.dupSpanCoverage(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // df-count and per-doc aggregations both map-side combine
    assert("partial_count".r.findAllIn(p).size >= 2, p)
  }

  test("edit-distance pairs join only inside (lang, len_bucket) blocks — " +
      "never an unblocked nested-loop theta join") {
    val p = plan(Dedup.editDistancePairs(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("semdedup: codebook and leaders both arrive as broadcasts; the " +
      "argmin collapses map-side before the exchange") {
    val p = plan(Similarity.semDedup(spark, dir))
    // the only allowed nested-loop is the C-row codebook broadcast; the
    // leader join (<= C rows) must be a broadcast hash join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_min"), p) // map-side argmin, shuffle moves n rows
  }

  test("dsir weights: 256-row bucket stats broadcast back onto the " +
      "token stream, never a shuffle join against it") {
    val p = plan(Sampling.importanceWeights(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("doc signals: all narrow signals share ONE documents scan; the " +
      "only extra leaves are dup_frac's two (shingle df + join-back)") {
    val p = plan(TextAnalysis.docSignals(spark, dir))
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    // 1 narrow-signal scan + 2 inside dupSpanCoverage; a definition fork
    // that re-scans per signal would push this up immediately
    assert(docScans <= 3, s"documents scanned $docScans times:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bigram LM: one corpus explode only — count, prefix, and scoring " +
      "frames all derive from the checkpointed (doc, bigram) aggregate, " +
      "and no window keys on a bigram/prefix") {
    // the dir form serves a session-memoized CUT frame (its plan is a
    // bare RDD scan — LmArtifactSpec pins that); the training/scoring
    // shape under audit here is the uncached On path, which is exactly
    // the plan the memo's one train step runs
    val df = TextAnalysis.bigramLmOn(
      graft.sources.Tables.documents(spark, dir))
    val p = plan(df)
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    // the final doc_id spine only — the (doc,a,b,kab) frame is a
    // checkpointed RDD, and a second parquet scan would mean a branch
    // re-exploding the corpus (the tfidf df trap)
    assert(docScans <= 1, s"documents scanned $docScans times:\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assertWindowsKeyOnlyOnDocId(df)
  }

  test("tfidf cosine pairs: no window keys on a term — df rides the " +
      "checkpointed postings via groupBy+join") {
    val df = TextAnalysis.tfidfCosinePairs(spark, dir)
    assertWindowsKeyOnlyOnDocId(df)
    val p = plan(df)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("span removal never forms pairs: gram stats and covered positions " +
      "are equi-joined and aggregated with map-side partials") {
    val p = plan(Dedup.removeDupSpans(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // min-doc stats collapse map-side; the default gate must NOT plan
    // the distinct-aggregate expansion (its second keyed exchange over
    // near-gram volume) — mind < doc_id implies the distinct-doc test.
    // Police the expansion's own signature (`count(distinct doc_id)` in
    // the aggregate function list), not the bare word "distinct", which
    // any future column alias or operator label could echo.
    assert(p.contains("partial_min"), p)
    assert(!p.contains("count(distinct"), p)
  }

  test("multi-length span removal: the hash-doubling ladder is a per-row " +
      "array transform — no self-join rounds, no distinct expansion") {
    val p = plan(Dedup.removeDupSpansMultiLength(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_min"), p)
    assert(!p.contains("count(distinct"), p)
    // exactly the stats join and the two reassembly joins survive: a
    // re-introduced per-doubling self-join would add SortMergeJoin
    // rounds keyed on (doc_id, start)
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size
    assert(joins <= 3, s"expected <= 3 joins, got $joins:\n$p")
  }

  test("triangle closure is pure equi-joins: no pair enumeration operator") {
    val p = plan(Graph.docTriangles(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bm25 scans the corpus once and serves top-k without a global sort") {
    val p = plan(TextAnalysis.bm25TopK(spark, dir))
    // tf is checkpointed: dl / scalar / query-filter branches reuse it,
    // so only the n_docs count branch touches parquet again
    assert("Scan parquet".r.findAllIn(p).size <= 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p) // df + scalars broadcast
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmv bottom-k plans a partial WindowGroupLimit: the sketch shuffle " +
      "carries at most k rows per source per map task") {
    val p = plan(Aggregates.kmvDistinct(spark, dir))
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")), p)
    assert(p.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Final")), p)
  }

  test("cusum is one aggregation and one window exchange plus the output " +
      "sort — the scaled-deviation windows share the series-key partitioning") {
    val p = plan(Analytics.eventCusum(spark, dir))
    assert("Exchange".r.findAllIn(p).size <= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("gate sweep scans the corpus at most twice (logits + totals); the " +
      "threshold spine joins only as a broadcast") {
    val p = plan(TextAnalysis.gateSweep(spark, dir))
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("CartesianProduct"), p)
    // the 31-row spine fan-out must ride a BROADCAST nested loop —
    // an unbroadcast one would ship the corpus to every spine row
    assert(!"(?<!Broadcast)NestedLoopJoin".r.findFirstIn(p).isDefined, p)
  }

  test("twap is one window exchange plus the output sort, no join at all") {
    val p = plan(Analytics.timeWeightedAvg(spark, dir))
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("doc diversity: two combinable aggregations and the output sort") {
    val p = plan(TextAnalysis.docDiversity(spark, dir))
    assert("Exchange".r.findAllIn(p).size <= 3, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("lm gate rides the memoized LM artifact: the vocab tables arrive " +
      "as checkpointed RDDs and the corpus parquet is scanned at most " +
      "once (the reattach spine; the serving explode is the cut frame)") {
    val df = TextAnalysis.lmGate(spark, dir)
    val p = plan(df)
    val docScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1, s"documents scanned $docScans times:\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
    assertWindowsKeyOnlyOnDocId(df)
  }

  test("ivf-pq serving after first touch: every artifact frame arrives " +
      "as a checkpointed RDD — embeddings parquet is read only for the " +
      "query vector and the exact re-rank, never for training/coding") {
    graft.operators.Similarity.ivfPqTopK(spark, dir).collect() // train+memo
    val p = plan(graft.operators.Similarity.ivfPqTopK(spark, dir))
    assert(p.contains("Scan ExistingRDD"), p)
    val embScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("embeddings"))
    assert(embScans <= 1, s"embeddings scanned $embScans times:\n$p")
  }

  test("quantile sketch: the sample aggregates PARTIALLY before its " +
      "exchange (bounded bottom-k buffers per map task) and no window " +
      "touches raw rows — only the audit's distinct-value frame") {
    val df = Aggregates.quantileSketch(spark, dir)
    val p = plan(df)
    // the BottomKSample udaf must plan as partial+final ObjectHashAggregate
    // pairs: a hot group then moves <=k entries per map task, never rows
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).size
    assert(objAggs >= 2, s"no partial aggregation for the sample udaf:\n$p")
    assert(p.contains("partial_bottomksample")
      || p.toLowerCase.contains("partial_bottomk"),
      s"sample udaf not in partial mode:\n$p")
    // windows exist only on the audit side, downstream of the (g, v)
    // distinct-value aggregation — never over the raw lineitem scan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Aggregate => LAggregate}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "audit window expected")
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: LAggregate => a }.nonEmpty,
        s"audit window must rank aggregated distinct values, not raw rows:\n$w")
    }
  }

  test("rollup report is ONE Expand + hash aggregate over one scan — " +
    "not a union of three queries") {
    val p = plan(Relational.rollupReport(spark, dir))
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the fact table must be read once:\n$p")
    assert(!p.contains("Union"), p)
  }

  test("length buckets: narrow map + bounded-domain aggregation, no " +
    "join, no window") {
    val p = plan(Sampling.lengthBuckets(spark, dir))
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("heavy hitters: MG summary aggregates partially map-side and " +
    "the verify join broadcasts the candidates") {
    val p = plan(Aggregates.heavyHitters(spark, dir))
    assert(p.toLowerCase.contains("partial_misragries"),
      s"MG summary must pre-reduce map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("MAD outliers: sample udaf partial, cuts broadcast, no window " +
    "over the raw scan") {
    val p = plan(Aggregates.madOutliers(spark, dir))
    assert(p.toLowerCase.contains("partial_bottomk"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("seasonal anomalies: broadcast profile join + TakeOrdered report") {
    val p = plan(Analytics.hourlyAnomalies(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("quantile normalization: sample cuts broadcast onto the fact " +
    "scan, no window over raw rows") {
    val p = plan(Aggregates.quantileNormalize(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.toLowerCase.contains("partial_bottomk"), p)
  }

  test("corpus diff: digest reconcile join, never a cartesian or " +
    "nested loop over documents") {
    val p = plan(Relational.corpusDiff(spark, dir))
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("md5"), "payloads must be hashed before the join")
  }

  test("media phash dedup: one native ahash64 kernel per side, no " +
    "nested-loop join anywhere") {
    val p = plan(Multimodal.mediaPhashDup(spark, dir))
    // the executed plan shows the kernel call ahash64 is replaced by
    assert(p.contains("graft.functions.AHashKernel.compute"), p)
    assert(!p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), p)
  }

  test("MinHash near-dup per batch: word_shingles, hashed_set and " +
    "minhash_bands run once each per doc, and not at all in the probe or " +
    "the index write over the cut") {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.functions.col
    import graft.Materialize.MatOps
    import graft.functions.{HashedSetKernel, MinhashBandKernel, ShingleKernel}
    val kernels = Seq(ShingleKernel, HashedSetKernel, MinhashBandKernel)
      .map(_.getClass)
    // kernel calls in the optimized plan, after constraint inference
    // and filter pushdown have had their chance to copy them
    def calls(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case s: StaticInvoke if kernels.contains(s.staticObject) =>
          s.staticObject.getSimpleName
      }))
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val idx = java.nio.file.Files.createTempDirectory("graft_plan_mh").toString
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 10 =!= 7), idx)
    val signed = Dedup.minhashSigned(docs.filter(col("doc_id") % 10 === 7))
    assert(calls(signed).sorted ==
      Seq("HashedSetKernel$", "MinhashBandKernel$", "ShingleKernel$"),
      calls(signed))
    val cut = signed.cutLineage()
    val probe = Dedup.minhashProbe(cut, Some(idx), withinBatch = true, 0.7)
    val (sets, bands) = Dedup.minhashIndexFrames(cut)
    for (df <- Seq(probe, sets, bands)) assert(calls(df).isEmpty, calls(df))
    // the hazard the cut closes: over the uncut frame every branch, and
    // every inferred isnotnull filter on a kernel column, re-runs a kernel
    assert(calls(Dedup.minhashProbe(signed, Some(idx), withinBatch = true,
      0.7)).size > 3)
    // the uncut paths run each kernel once per frame branch and never in
    // an inferred filter: the corpus self-join's two band-join sides and
    // two verify sides, and the in-memory join's corpus sets and bands
    // (its batch is a cut)
    val selfJoin = calls(Dedup.minhashNearDupOn(docs, 0.7))
    assert(selfJoin.sorted == Seq.fill(2)("HashedSetKernel$") ++
      Seq.fill(2)("MinhashBandKernel$") ++ Seq.fill(4)("ShingleKernel$"),
      selfJoin)
    val joinOn = calls(Dedup.minhashJoinOn(
      docs.filter(col("doc_id") % 10 === 7),
      docs.filter(col("doc_id") % 10 =!= 7), 0.7))
    assert(joinOn.sorted == Seq("HashedSetKernel$", "MinhashBandKernel$",
      "ShingleKernel$", "ShingleKernel$"), joinOn)
  }

  test("set-similarity verify: the sorted-merge kernel appears once in " +
    "every ppjoin and MinHash pair path, never copied into a join " +
    "condition or filter") {
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.functions.col
    import graft.functions.SortedIntersectKernel
    def merges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case s: StaticInvoke
          if s.staticObject == SortedIntersectKernel.getClass => s
      })).size
    val docs = graft.sources.Tables.documents(spark, dir)
    val batch = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id"), col("text"))
    def tmp(name: String): String =
      java.nio.file.Files.createTempDirectory(name).toString
    val pp = tmp("graft_plan_pp")
    Dedup.writePpjoinIndex(corpus, pp)
    val mh = tmp("graft_plan_mhv")
    Dedup.writeMinhashIndex(corpus, mh)
    val paths = Seq(
      "ppjoinPairsOn" -> Dedup.ppjoinPairsOn(docs, 7L, 10L),
      "ppjoinJoinOn" -> Dedup.ppjoinJoinOn(batch, corpus),
      "ppjoinJoinFromIndex" -> Dedup.ppjoinJoinFromIndex(spark, batch, pp),
      "minhashNearDupOn" -> Dedup.minhashNearDupOn(docs, 0.7),
      "minhashJoinOn" -> Dedup.minhashJoinOn(batch, corpus, 0.7),
      "minhashJoinFromIndex" ->
        Dedup.minhashJoinFromIndex(spark, batch, mh, 0.7))
    for ((name, df) <- paths)
      assert(merges(df) == 1, s"$name: ${merges(df)} merge-kernel calls")
  }
}
