package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction,
  Lower, Md5, NamedLambdaVariable, RLike, RegExpExtractBase, RegExpReplace,
  String2TrimExpression, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Listing, Similarity, TextOps}
import graft.operators.Listing.ListParams

/** Physical-plan shape assertions: the properties that make these
  * operators scale (pushdown into the scan, broadcast of dimension
  * sides, zero-shuffle projections, whole-stage codegen) are pinned
  * here so a regression in plan quality fails CI, not a 100 TB run. */
class PlanSpec extends AnyFunSuite {
  import TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Every registered query built once for the registry-wide checks:
    * its frame and the executions it ran while being built — those
    * whose QueryExecution was created after the previous query's frame
    * and before its own (execution ids increase with creation). */
  private lazy val registryBuilt: Seq[(String, DataFrame, Seq[QueryExecution])] = {
    val (built, ran) = Measure.executions(spark) {
      SparkEntry.registry.toSeq.sortBy(_._1)
        .map { case (name, qd) => name -> qd.fn(spark, sf) }
    }
    val ids = built.map(_._2.queryExecution.id)
    built.zip(-1L +: ids).map { case ((name, df), after) =>
      (name, df, ran.filter(qe => qe.id > after && qe.id < df.queryExecution.id))
    }
  }

  /** The maximal lambda-free subtrees of every lambda body in `p` that
    * split, match a regex, md5, lower-case or trim. */
  private def perElementRederivations(p: LogicalPlan): Seq[Expression] = {
    def rederives(e: Expression): Boolean = e.exists {
      case _: StringSplit | _: RLike | _: RegExpReplace | _: RegExpExtractBase |
          _: Md5 | _: Lower | _: String2TrimExpression => true
      case _ => false
    }
    def lambdaFree(e: Expression): Seq[Expression] =
      if (e.exists(_.isInstanceOf[NamedLambdaVariable])) e.children.flatMap(lambdaFree)
      else if (rederives(e)) Seq(e)
      else Nil
    p.collectWithSubqueries { case n => n.expressions }.flatten
      .flatMap(_.collect { case l: LambdaFunction => l.function })
      .flatMap(lambdaFree)
  }

  test("bucket equality predicate pushes down to the parquet scan") {
    val p = plan(Tables.objects(spark, sf).filter(col("bucket") === "src2"))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("EqualTo(source,src2)"), p)
  }

  test("object→bucket resolve is a broadcast hash join") {
    val p = plan(Tables.objects(spark, sf)
      .join(broadcast(Tables.buckets(spark, sf)), "bucket"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("listing page = TakeOrderedAndProject (sort+limit fused, no global sort)") {
    val p = plan(Listing.entries(Tables.objects(spark, sf), "src1",
      ListParams(prefix = None, delimiter = Some("/"), maxKeys = 10)))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("shingle-set construction is a zero-shuffle projection") {
    val p = plan(Dedup.shingleSets(Tables.documents(spark, sf), "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
  }

  test("simhash signatures are a zero-shuffle projection") {
    val p = plan(Dedup.simhash(Tables.documents(spark, sf), "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
  }

  test("brute-force topK broadcasts the query side, never shuffles the corpus") {
    val prep = Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val p = plan(Similarity.topK(prep, prep.filter(col("id") < 5), 3))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the only Exchange is the window's partition-by-query shuffle of
    // the (tiny) scored pairs, never the corpus scan side
    assert(!p.substring(0, p.indexOf("BroadcastNestedLoopJoin"))
      .contains("Exchange hashpartitioning(nid"), p)
  }

  test("quality-model inference is a zero-shuffle scan-stage projection") {
    val p = plan(TextOps.qmScored(Tables.documents(spark, sf), "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema") && !p.contains("lang"), p)
  }

  test("subword tokenization is a zero-shuffle scan-stage projection " +
      "with the vocab embedded as a plan literal") {
    val vocab = Seq("er", "in", "me", "mer", "row", "scan")
    val p = plan(Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.GraftFunctions.subwordTokens(
          TextOps.tokens(col("text")), vocab)).as("n_tokens")))
    // no exchange at all: the vocab travels inside the serialized
    // expression (broadcast semantics), tokenization runs inside the
    // scan stage, and only doc_id/text are read
    assert(!p.contains("Exchange"), p)
    assert(p.contains("subword_tokens"), p)
    assert(p.contains("ReadSchema") && !p.contains("lang"), p)
  }

  test("registered tokenization queries load the persisted vocab — " +
      "no gram-explode/derivation subtree in the plan") {
    // training (Models.subwordVocabSeq) happens driver-side before the
    // plan exists; the QUERY plan must contain only the tokenize
    // projection — no explode over grams, no count aggregate, no limit
    for (name <- Seq("tx_subword_tokens", "ds_token_shards_subword")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("Generate"), s"$name retrains the vocab:\n$p")
      assert(p.contains("subword_tokens"), s"$name: $p")
    }
  }

  test("substringDups: partial agg on window hash, no cartesian") {
    val p = plan(Dedup.substringDups(
      Tables.documents(spark, sf), "doc_id", "text"))
    // occurrence counting is map-side combined before its exchange
    assert(p.contains("partial_count") ||
      p.contains("HashAggregate (") && p.contains("Functions [count"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("kmv sketch aggregates with map-side partials (bounded state)") {
    val p = plan(Tables.documents(spark, sf)
      .select(col("source"), xxhash64(col("text")).as("h"))
      .groupBy("source")
      .agg(graft.functions.GraftFunctions.kmvMins(col("h"), 256)))
    // TypedImperativeAggregate plans as ObjectHashAggregate; the
    // partial instance before the exchange is what bounds shuffle
    // volume to O(k) rows per (task, group) at 100 TB
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_kmv_mins"), p)
  }

  test("PQ/ADC: codebook and query LUTs broadcast, corpus never shuffles") {
    val prep = Similarity.prepared(Tables.embeddings(spark, sf),
      "vec_id", "embedding").filter(size(col("qv")) === 64)
    val p = plan(Similarity.pqTopKPlan(prep, 5, 10L, 8, 16, 64))
    // encoding and ADC scoring join only via broadcast exchanges; the
    // sole hash exchange is the per-query top-k window over the scored
    // slice — the codes table itself never shuffles
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllIn(p).size
    assert(hashExchanges <= 1, s"expected <=1 hash exchange, got $hashExchanges\n$p")
  }

  test("scan+agg headliner runs inside whole-stage codegen") {
    val df = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(sum("l_quantity"))
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p) // whole-stage codegen span markers
  }

  test("point fetch keeps the limit local (CollectLimit, no global sort)") {
    val p = plan(Tables.objects(spark, sf)
      .filter(col("bucket") === "src1").limit(1))
    assert(p.contains("CollectLimit") || p.contains("LocalLimit"), p)
  }

  test("error dispatch joins broadcast the bucket dimension") {
    val p = plan(graft.queries.ErrorQueries.defs("err_dispatch").fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("no registered query plans a cartesian product") {
    // A CartesianProduct (or a non-broadcast nested loop) is the one plan
    // shape that can never survive a 100x scale-up. Every query in the
    // registry must plan without one; the two broadcast nested loops are
    // deliberate bounded-side designs (brute-force topK broadcasts ~10
    // query vectors; IVF ranking broadcasts nList centroids; the Bloom
    // probe broadcasts ONE sorted-position row) and they stay
    // allowlisted as long as their loop side is a broadcast.
    // Caveat: queries whose builders eagerly localCheckpoint return a
    // LogicalRDD scan, so their INTERNAL joins are not visible here —
    // those pipelines' operators are asserted directly in the next test.
    // tx_kmv_setops cross-pairs per-SOURCE sketch rows (|sources|² pairs
    // of 256-long arrays — source-domain-bounded, never corpus-sized)
    // tx_bm25_indexed/_postings cross-join the ONE-ROW corpus totals
    // (N, S) — same bounded-broadcast class as the others
    val bnljAllowed = Set("sim_topk_brute", "sim_ivf_topk",
      "dd_bloom_probe", "ds_temperature_mix", "sim_ivf_stats",
      "tx_kmv_setops", "tx_bm25_indexed", "tx_bm25_postings")
    registryBuilt.foreach { case (name, df, _) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested loop join:\n$p")
    }
  }

  test("no lambda re-derives its input per element") {
    // transform/aggregate/filter lambdas are interpreted
    // (CodegenFallback): a subtree of a lambda body that reads no lambda
    // variable is evaluated again for every element. Tokenizing, regex,
    // md5 or case/trim work there re-derives the row's input once per
    // element — a per-token re-split of the document (TextOps.ngrams).
    // Checked on each query's optimized plan and on the plans it ran
    // eagerly while being built (checkpoints).
    val hits = registryBuilt.flatMap { case (name, df, ran) =>
      val es = (df.queryExecution +: ran)
        .flatMap(qe => perElementRederivations(qe.optimizedPlan)).distinct
      es.headOption.map(e => s"$name: ${es.size} subtree(s), e.g. ${e.sql}")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("corpus-prep scans prune to the referenced columns") {
    // At 100 TB a 2-column projection must reach the parquet scan: the
    // split/sample queries never read `text`, so a full-row ReadSchema
    // would multiply scan bytes ~50x.
    val p = plan(queries.CorpusQueries.defs("ds_split").fn(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    val p2 = plan(queries.CorpusQueries.defs("ds_mix_sample").fn(spark, sf))
    assert(p2.contains("ReadSchema: struct<doc_id:bigint,source:string>"), p2)
  }

  test("sessionize and the two-phase ranks bound their exchanges") {
    // ev_sessionize: ONE user_id hash shuffle end-to-end (window +
    // lag + groupBy all reuse it); the only other exchange is the
    // deterministic-output orderBy. The two-phase rank queries
    // (epoch/curriculum order) plan exactly two DATA-keyed hash
    // exchanges — bucket-window + bucket-count aggregate — and never a
    // global (empty-key) window over the corpus; the bucket-count
    // rebase window's constant partition key (Rank.boundedGlobal —
    // since the round-20 non-foldable BoundedGlobalKey replaced the
    // r19 literal+rule-opt-out, the analyzer extracts it as
    // `bounded_global_key() AS _wN#id` and the exchange prints as
    // hashpartitioning(_wN#id, …) — trace the alias) is counted
    // separately and must appear exactly once. formatted mode lists
    // each Exchange once, its partitioning on the Arguments line —
    // count the partitioning spec, not the node name
    def constKeys(p: String): Set[String] =
      "bounded_global_key\\(\\) AS (\\w+#\\d+)".r.findAllMatchIn(p)
        .map(_.group(1)).toSet
    def constEx(p: String): Int = {
      val keys = constKeys(p)
      "hashpartitioning\\((\\w+#\\d+)".r.findAllMatchIn(p)
        .count(m => keys.contains(m.group(1)))
    }
    def hashEx(p: String): Int =
      "hashpartitioning\\(".r.findAllMatchIn(p).size - constEx(p)
    val ps = plan(queries.EventQueries.defs("ev_sessionize").fn(spark, sf))
    assert(hashEx(ps) == 1, ps)
    for (n <- Seq("ds_epoch_order", "ds_curriculum_order")) {
      val p = plan(queries.CorpusQueries.defs(n).fn(spark, sf))
      assert(hashEx(p) == 2, s"$n:\n$p")
      assert(constEx(p) == 1, s"$n (constant-key rebase window):\n$p")
    }
    val pm = plan(queries.MultimodalQueries.defs("mm_scene_cuts").fn(spark, sf))
    assert(hashEx(pm) == 1, pm)
  }

  test("semDedup pair enumeration plans an equi-join, never a cartesian") {
    // Operator-level (the query's builder eagerly checkpoints): the
    // within-cell enumeration must reach the planner as an equi-join on
    // cid — a cartesian here is m² of the whole corpus at scale. The
    // one nested loop allowed is the single-row broadcast of the
    // centroid array (cell assignment); the pair join itself must not
    // be one.
    val prep = Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val cents = Similarity.refinedCentroids(prep, 4, 0)
    val withCell = Similarity.withNearestCell(prep, cents)
    val p = plan(graft.operators.Skew.selfJoinRows(
      withCell, Seq("cid"), "id", Seq("qv", "n2")))
    assert(!p.contains("CartesianProduct"), p)
    val bnljNodes = p.linesIterator
      .count(_.trim.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnljNodes <= 1, p)
  }

  test("tx_rarity broadcasts the df table — occurrences never shuffle on tok") {
    // Stop-words are extreme hot keys: a hash shuffle of occurrence
    // rows on `tok` would concentrate whole partitions at 100 TB. The
    // df side is vocabulary-bounded, so it broadcasts.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("w"))
    val df = graft.queries.TextQueries.rarityPlan(docs)
    // executedPlan.toString renders exchanges inline ("Exchange
    // hashpartitioning(...)"); the formatted mode hides them in a
    // detail section, which would make these assertions vacuous
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // occurrence rows must not shuffle on tok: no shuffled JOIN on the
    // token key; the one permitted tok exchange is the df aggregation's
    // map-side-combined partials (vocabulary-sized rows)
    assert(!p.contains("SortMergeJoin [tok") &&
      !p.contains("ShuffledHashJoin [tok"), p)
    assert(p.linesIterator
      .count(_.contains("Exchange hashpartitioning(tok")) == 1, p)
  }

  test("tx_tfidf_terms broadcasts df and corpus count — no term-only shuffle") {
    // Same hot-key reasoning as tx_rarity: the df dimension and the
    // single-row corpus count broadcast; the only hash exchanges are
    // the uniform (doc_id, term) tf aggregation and the per-doc window.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("w"))
    val p = plan(graft.queries.TextQueries.tfidfPlan(docs))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(term"), p)
  }

  test("tx_lm_score broadcasts the fitted LM — corpus never shuffles on bigram keys") {
    // The c2/c1 model tables are vocabulary-bounded dimensions; the
    // corpus-side scoring join must broadcast them (stop-word bigrams
    // are extreme hot keys). The only (prev[, tok]) exchanges allowed
    // are the two model-count aggregations themselves.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        md5(encode(col("doc_id").cast("string"), "UTF-8")).as("h"),
        graft.operators.TextOps.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    // the SCORING stage (lmScoreWith materializes it before the
    // distributed decile, so pin its plan directly)
    val p = graft.queries.TextQueries
      .lmPerDoc(docs, graft.operators.TextOps.lmFit(docs)
        .localCheckpoint(true))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin [prev") &&
      !p.contains("ShuffledHashJoin [prev"), p)
    // the c2 fit is materialized (localCheckpoint); the only remaining
    // prev-keyed exchange is the vocabulary-sized c1 marginal
    assert(p.linesIterator
      .count(_.contains("Exchange hashpartitioning(prev")) == 1, p)
    // …and the full plan's decile stage adds NO bigram-keyed exchange:
    // the rank runs over the materialized per-doc table only
    val full = graft.queries.TextQueries.lmPlan(docs)
      .queryExecution.executedPlan.toString
    assert(!full.contains("Exchange hashpartitioning(prev"), full)
  }

  test("tx_bm25: query terms + df broadcast — corpus never shuffles " +
      "on tok; postings path plans zero tok exchange") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("w"))
    val df = graft.operators.TextOps.dfTable(docs).localCheckpoint(true)
    val p = graft.queries.TextQueries
      .bm25With(docs, df, graft.queries.TextQueries.bm25QueryTerms(df))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(tok"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the postings serving path: the tok-bucketed index joins the
    // broadcast term set with no index-side exchange
    val pp = SparkEntry.queries("tx_bm25_postings")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!pp.contains("Exchange hashpartitioning(tok"), pp)
    assert(pp.contains("TakeOrderedAndProject"), pp)
  }

  test("tx_phrase/near/boolean: positional+tf index probes broadcast — " +
      "zero tok exchange, no position re-derivation in the serving plan") {
    // The phrase DERIVATION scans the corpus once (that's the query
    // formulation step); the MATCHING side must read index rows only:
    // no posexplode anywhere (positions come from the artifact, never
    // re-derived), no tok-keyed exchange (broadcast probes of the
    // bucketed index), top-k as TakeOrderedAndProject.
    for (name <- Seq("tx_phrase_match", "tx_near_match")) {
      val p = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(tok"), s"$name:\n$p")
      assert(!p.contains("posexplode"), s"$name re-derives positions:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$name:\n$p")
    }
    val pb = SparkEntry.queries("tx_boolean_and")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!pb.contains("Exchange hashpartitioning(tok"), pb)
    assert(pb.contains("BroadcastHashJoin"), pb)
  }

  test("dd_bloom_probe: the filter broadcasts — no gram-keyed exchange at all") {
    // The held-out side folds into one sorted-position row; probing is
    // a broadcast nested-loop of that single row, so the training gram
    // table is never shuffled or joined on the gram hash.
    val docs = Tables.documents(spark, sf)
    val h = md5(encode(col("doc_id").cast("string"), "UTF-8"))
    val p = graft.operators.Dedup.bloomProbe(
        docs.filter(h < "e6"), docs.filter(h >= "e6"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(gh"), p)
    assert(!p.contains("SortMergeJoin [gh") &&
      !p.contains("ShuffledHashJoin [gh"), p)
  }

  test("ds_prep_pipeline: three hash exchanges after the survivor materialization") {
    // The end-to-end prep pipeline's claim: the gate+fingerprint stage
    // shuffles once (inside the eager checkpoint, not visible here),
    // and the offset phase over the materialized survivors needs only
    // (1) the (source, bucket) offset window, (2) the bucket-sums
    // aggregate, (3) the bucket-count-sized per-source base window —
    // everything else is projection, broadcast, or the final
    // presentation sort. Without the materialization the two offset
    // branches would each re-run the whole gate subtree.
    val p = graft.queries.CorpusQueries.defs("ds_prep_pipeline")
      .fn(spark, sf).queryExecution.executedPlan.toString
    val hashEx = p.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 3, s"$hashEx hash exchanges:\n$p")
    assert(!p.contains("FileScan"), s"survivors not materialized:\n$p")
  }

  test("IVF assignment plan size is independent of nList (no plan literal)") {
    // The former centroid path embedded a driver-collected typedLit in
    // the expression tree: at SemDedup-realistic nList ≈ √n the literal
    // is megabytes inside every serialized task and a codegen bomb.
    // The broadcast-array form must plan the same size at any nList.
    import spark.implicits._
    val prep = Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    def cents(n: Int) = spark.range(n).select(col("id").as("cid"),
      transform(sequence(lit(0), lit(63)),
        k => (col("id") + k).cast("long")).as("cv"))
      .withColumn("cn2", graft.functions.GraftFunctions
        .ldot(col("cv"), col("cv")))
    val small = plan(Similarity.ivfAssign(prep, cents(16))).length
    val big = plan(Similarity.ivfAssign(prep, cents(1024))).length
    assert(big < small * 2 && big < 50000,
      s"plan grows with nList: $small chars at 16, $big at 1024")
  }

  test("candidate generators plan equi-joins, never cartesians") {
    // The checkpointed pipelines' inner enumeration, asserted at the
    // operator level where the join plan is still lazy/inspectable.
    def noCartesian(p: String, who: String): Unit = {
      assert(!p.contains("CartesianProduct"), s"$who:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$who:\n$p")
    }
    val prep = Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val sigs = prep.withColumn("sig",
      Similarity.srpSignature(col("qv"), Similarity.intPlanes(32, 64)))
      .select("id", "sig")
    noCartesian(plan(Similarity.srpCandidates(sigs, 4, 8)), "srpCandidates")
    noCartesian(plan(Similarity.nearDupPairs(prep, 0.4, blocks = 4)),
      "nearDupPairs (tiled exact gate)")
    val docs = Tables.documents(spark, sf)
    noCartesian(plan(Dedup.simhashPairs(
      Dedup.simhash(docs, "doc_id", "text"))), "simhashPairs")
    val exploded = Dedup.shingleSets(docs, "doc_id", "text")
      .select(col("id"), explode(col("hs")).as("sh"))
    noCartesian(plan(Dedup.lshCandidates(
      Dedup.minhashSignature(exploded, 8), 4, 2)), "lshCandidates")
    noCartesian(plan(Dedup.containmentPairs(docs, "doc_id", "text")),
      "containmentPairs")
  }

  test("SQ8 scoring broadcasts bounds and queries — corpus never " +
      "shuffles before the top-k window") {
    val prep = Similarity.prepared(
      Tables.embeddings(spark, sf), "vec_id", "embedding")
    val rng = broadcast(Similarity.sqRanges(prep))
    val codes = prep.crossJoin(rng)
      .select(col("id").as("nid"), col("qv"))
    val p = plan(codes)
    // encoding side: only broadcast exchanges (the one-row bounds)
    assert(!p.contains("Exchange hashpartitioning(nid"), p)
    assert(!p.contains("Exchange hashpartitioning(id"), p)
  }

  test("as-of join is one shuffle and NO join operator") {
    import graft.operators.Temporal
    val e = Tables.events(spark, sf).select(col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
    val p = plan(Temporal.asofJoin(
      e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "us"),
      e.filter(col("event_type") === "purchase")
        .select("user_id", "us", "event_id", "value"),
      "user_id", "us", "event_id", Seq("value")))
    assert(!p.contains("Join"), p)
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(shuffles === 1, s"expected exactly one shuffle, got $shuffles:\n$p")
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("interval join is a bucket equi-join, never cartesian/BNLJ") {
    import graft.operators.Temporal
    val e = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val ivs = e.groupBy(col("user_id").as("owner"))
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    val p = plan(Temporal.intervalJoin(
      e.select(col("user_id").as("p_user"), col("us")), "us",
      ivs, "start_us", "end_us", widthUs = 3600000000L))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("content-defined chunking is a zero-shuffle scan-stage explode") {
    val p = plan(Dedup.cdcChunks(Tables.documents(spark, sf), "text"))
    assert(!p.contains("Exchange"), p)
  }
}
