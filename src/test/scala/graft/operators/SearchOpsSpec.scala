package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q92 bigram-LM familiarity + q93 tf-idf keyword search: exact integer
  * arithmetic on hand-built corpora, model-slice semantics, tie-breaks,
  * and the plan pins (BoundedTopK, no window, no cartesian).
  */
class SearchOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("q92 exact scores on a hand-built corpus") {
    import spark.implicits._
    // model (en): "a b" x2, "a c" x1, "b a" x1, "c a" x1 -> c1(a)=3, c1(b)=1, c1(c)=1
    val docs = Seq(
      (1L, "en", "a b a c a b"), // bigrams: ab,ba,ac,ca,ab
      (2L, "fr", "a b z z"), // ab hit, bz miss, zz miss
      (3L, "de", "q") // 1 token -> no bigram rows -> no output row
    ).toDF("doc_id", "lang", "text")
      .select(col("doc_id"), col("lang"), col("text"))
    val out = SearchOps.lmQuality(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // weights: ab = 1e6*2/3 = 666666, ba = 1e6*1/1 = 1000000,
    //          ac = 1e6*1/3 = 333333, ca = 1000000
    assert(out(1L) == ((5L, 5L, 666666L + 1000000L + 333333L + 1000000L + 666666L)))
    assert(out(2L) == ((3L, 1L, 666666L)))
    assert(!out.contains(3L))
  }

  test("q92 invariants on sf0.001: hits bounded, scores bounded") {
    val out = SearchOps.q92LmQuality(spark, sf)
    val bad = out.where(
      col("n_hits") > col("n_bigrams") ||
        col("lm_score") > col("n_hits") * SearchOps.Scale ||
        col("lm_score") < 0)
    assert(bad.isEmpty, "q92 bounds violated")
    // the model is trained on en: en docs must average a higher
    // per-bigram score than the other languages together
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "lang")
    val j = out.join(docs, "doc_id")
      .groupBy(col("lang") === "en")
      .agg((sum(col("lm_score")) / sum(col("n_bigrams"))).as("avg"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(j(true) > j(false),
      s"en familiarity ${j(true)} not above non-en ${j(false)}")
  }

  test("q107 backoff levels and exact scores on a hand-built corpus") {
    import spark.implicits._
    // model (en): "a b c a b d"; probe doc exercises all three levels
    val docs = Seq(
      (1L, "en", "a b c a b d"),
      (2L, "fr", "x a b c") // (x,a): unigram hit; (x,a,b): bigram; (a,b,c): trigram
    ).toDF("doc_id", "lang", "text")
    val out = SearchOps.backoffLm(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // doc 2: p1(a) = 1e6*1/5 -> (4*200000)//25 = 32000 (level 1)
    //        p2(a,b) = 1e6*2/2 -> (2*1000000)//5 = 400000 (level 2)
    //        p3(a,b,c) = 1e6*1/2 = 500000 (level 3)
    assert(out(2L) == ((3L, 932000L, 1L, 1L, 1L)), out(2L).toString)
    // the model doc scores itself: all transitions hit (pos-2 bigram + 4 trigrams)
    val (n1, _, tri1, bi1, uni1) = out(1L)
    assert(n1 == 5L && tri1 == 4L && bi1 == 1L && uni1 == 0L, out(1L).toString)
  }

  test("q93 exact ranking and tie-break on a hand-built corpus") {
    import spark.implicits._
    // 4 docs; query terms x (df=2), y (df=1); N=4
    // wx = 1e6*4/2 = 2000000, wy = 1e6*4/1 = 4000000
    val docs = Seq(
      (1L, "x x y"), // q1: 2*wx + 1*wy = 8000000
      (2L, "x z z"), // q1: 2000000
      (3L, "z z z"), // no hit
      (4L, "w w w")
    ).toDF("doc_id", "text")
    val got = SearchOps.keywordSearch(spark, docs, Seq(1 -> "x y"), k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, 1L, 1L, 8000000L), (1, 2L, 2L, 2000000L)))
  }

  test("q93 tie-break: equal scores rank by ascending doc_id") {
    import spark.implicits._
    val docs = Seq((9L, "t"), (3L, "t"), (7L, "t")).toDF("doc_id", "text")
    val got = SearchOps.keywordSearch(spark, docs, Seq(1 -> "t"), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // all scores 1e6*3/3 = 1000000; top-2 = doc 3 then doc 7
    assert(got.toSeq == Seq((1L, 3L), (2L, 7L)))
  }

  test("q93 plan: BoundedTopK partial aggregate, no window, no cartesian") {
    val df = SearchOps.q93KeywordSearch(spark, sf)
    val plan = SparkTestSession.finalPlan(df)
    val bad = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(bad.isEmpty, s"window/cartesian in q93 plan:\n$plan")
    val topk = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[graft.functions.BoundedTopK]) => a
    }
    assert(topk.nonEmpty, s"no BoundedTopK aggregate in q93 plan:\n$plan")
  }

  test("q113 BM25 exact integer score on a hand-built corpus") {
    import spark.implicits._
    // 2 docs, term t in both (df=2, N=2): idf_fp = 1e6*(2*0+1)/(2*2+1)
    //  = 200000. total_tokens = 4+2 = 6.
    // doc 1: tf=2, dl=4 -> r=1e6*4*2/6=1333333;
    //   den=2e6+(3e6+9*1333333)/10=2e6+1499999=3499999
    //   tfs=(22*2*1e6/10)*1e6/3499999=(4400000*1e6)/3499999=1257143
    //   contrib=200000*1257143/1e6=251428
    // doc 2: tf=1, dl=2 -> r=666666; den=1e6+(3e6+5999994)/10=1899999
    //   tfs=(2200000*1e6)/1899999=1157895; contrib=231579
    val docs = Seq((1L, "t t a b"), (2L, "t c")).toDF("doc_id", "text")
    val got = SearchOps.bm25Search(spark, docs, Seq(1 -> "t"), k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 251428L), (2L, 2L, 231579L)), got.toSeq)
  }

  test("q113 BM25 vs q93: saturation + length normalization flip a raw-tf ranking") {
    import spark.implicits._
    // doc 1: 6 hits buried in 300 tokens; doc 2: 3 hits in 10 tokens.
    // Raw tf*idf (q93) ranks doc 1 first (6w > 3w); BM25's length
    // normalization penalizes the long document and its saturation caps
    // the extra occurrences, ranking doc 2 first — the exact behavior
    // BM25 exists to add.
    val filler = (1 to 294).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, ("t " * 6).trim + " " + filler),
      (2L, "t t t a b c d e f g")).toDF("doc_id", "text")
    val q93Rank = SearchOps.keywordSearch(spark, docs, Seq(1 -> "t"), k = 2)
      .collect().map(_.getLong(2)).toSeq
    val bm25Rank = SearchOps.bm25Search(spark, docs, Seq(1 -> "t"), k = 2)
      .collect().map(_.getLong(2)).toSeq
    assert(q93Rank == Seq(1L, 2L), s"q93 fixture broken: $q93Rank")
    assert(bm25Rank == Seq(2L, 1L), s"BM25 did not normalize: $bm25Rank")
  }

  test("q113 rankings agree with q93 on equal-length single-hit docs") {
    import spark.implicits._
    // same dl, same tf, differing df across terms: both scorers order by
    // rarity; only the weight SCALE differs
    val docs = Seq(
      (1L, "rare a b c"), (2L, "mid a b c"), (3L, "mid a b c"),
      (4L, "x y z w")).toDF("doc_id", "text")
    val qs = Seq(1 -> "rare mid")
    val a = SearchOps.keywordSearch(spark, docs, qs, k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val b = SearchOps.bm25Search(spark, docs, qs, k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(a == b, s"q93=$a bm25=$b")
  }

  test("q113 plan: BoundedTopK partial aggregate, no window, one corpus aggregate") {
    val df = SearchOps.q113Bm25(spark, sf)
    val plan = SparkTestSession.finalPlan(df)
    val bad = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(bad.isEmpty, s"window/cartesian in q113 plan:\n$plan")
    val topk = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(
            _.aggregateFunction.isInstanceOf[graft.functions.BoundedTopK]) => a
    }
    assert(topk.nonEmpty, s"no BoundedTopK aggregate in q113 plan:\n$plan")
  }

  test("q116 retrieval decontamination: a paraphrase retrieves, unrelated text doesn't") {
    import spark.implicits._
    // doc 100 is the eval item; doc 1 paraphrases it (shares its rare
    // terms "zyx"/"wvu" but NO 5-gram run — shingle decontamination would
    // miss it); docs 2-4 are unrelated filler sharing only common terms
    val docs = Seq(
      (100L, "the zyx protocol wvu handshake explained simply"),
      (1L, "explained differently a handshake of wvu under zyx rules"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "common words only here nothing rare at all"),
      (4L, "more common filler text with plain words")).toDF("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") === 100L)
      .select(col("doc_id").as("eval_id"), col("text"))
    val out = SearchOps.decontaminateByRetrieval(spark, docs, evalSet,
      k = 3, maxQueryTerms = 4, minScoreFp = 0L)(_.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the paraphrase ranks FIRST; the eval doc itself is excluded
    assert(out.nonEmpty && out.head == (100L, 1L, 1L),
      s"paraphrase not retrieved first: ${out.mkString("; ")}")
    assert(!out.exists(_._3 == 100L), "eval doc retrieved itself")
    // shingle decontamination (q40, 5-grams) indeed misses the paraphrase
    val shingleKeep = graft.operators.DedupOps
      .decontaminate(docs.filter(col("doc_id") === 1L),
        evalSet.select(col("eval_id").as("doc_id"), col("text")))
      .collect().head.getBoolean(2)
    assert(shingleKeep, "fixture broken: shingles should miss the paraphrase")
  }

  test("q116 term selection is df-asc/term-asc deterministic and capped") {
    import spark.implicits._
    // eval doc has 3 rare terms (df=1) and common ones; with
    // maxQueryTerms=2 only the two alphabetically-first rare terms drive
    // retrieval: doc 1 shares them, doc 2 shares only the THIRD rare term
    // and must not be retrievable
    val docs = Seq(
      (100L, "aaa bbb ccc common words here"),
      (1L, "aaa bbb unrelated tail one two"),
      (2L, "ccc other unrelated tail three"),
      (3L, "common words here again and again")).toDF("doc_id", "text")
    val evalSet = docs.filter(col("doc_id") === 100L)
      .select(col("doc_id").as("eval_id"), col("text"))
    val out = SearchOps.decontaminateByRetrieval(spark, docs, evalSet,
      k = 5, maxQueryTerms = 2, minScoreFp = 0L)(_.collect())
      .map(_.getLong(2)).toSet
    assert(out.contains(1L), s"rare-term match missing: $out")
    assert(!out.contains(2L), s"capped-out term still retrieved: $out")
  }

  test("q116 large-eval broadcast path == inline IN-list path, and never inlines past the threshold") {
    // a synthetic eval set large enough that vocabInlineMax = 8 forces the
    // distributed broadcast-join regime; the two regimes must agree
    // row-for-row, and the join plan must carry no literal IN over the vocab
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val evalSet = docs.where(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    val a = SearchOps.decontaminateByRetrieval(spark, docs, evalSet,
      vocabInlineMax = Int.MaxValue)(_.collect().map(_.toSeq).toSeq)
    // the join regime's lazy plan is read before `finish` returns
    val (b, plan) = SearchOps.decontaminateByRetrieval(spark, docs, evalSet,
      vocabInlineMax = 8) { df =>
      (df.collect().map(_.toSeq).toSeq, df.queryExecution.executedPlan.toString)
    }
    assert(a.nonEmpty && a == b, s"regimes disagree: ${a.length} vs ${b.length} rows")
    // the vocab stays OUT of the plan string in the join regime
    assert(!plan.contains(" IN ("), s"literal IN-list leaked into join-regime plan")
  }

  test("q94 pivot equals conditional aggregation on sf0.001") {
    val types = Seq("click", "view", "purchase", "signup", "error")
    val ev = graft.Tables.events(spark, sf)
    val aggs = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")) :+
      count(lit(1)).as("n_total")
    val expect = ev.groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("user_id"))
      .collect().map(_.toSeq)
    val got = RelationalOps.q94Pivot(spark, sf).collect().map(_.toSeq)
    assert(got.toSeq == expect.toSeq)
  }
}
