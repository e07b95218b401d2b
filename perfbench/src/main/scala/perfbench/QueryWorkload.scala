package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.VectorFunctions

/** A fixed list of catalog queries (`graft.SparkEntry.queries`), run one
  * at a time in seeded order: a closed loop with one client. Each op is
  * the query plus its checksum action, checked against the golden;
  * `clearCache()` runs between ops, as in `graft.Bench`.
  */
final class QueryWorkload(val name: String, val queries: Seq[String],
    probe: (Ctx, Random) => Map[String, Double]) extends Workload {

  private def fn(q: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"no catalog query '$q'"))

  private def runOp(ctx: Ctx, q: String, parent: Long): OpResult =
    ctx.rec.span(ctx.spark, "op", q, parent) { id =>
      ctx.rec.currentOp = id
      val r = Ops.run(q)(ctx.verify(q, Checksum.of(fn(q)(ctx.spark, ctx.dir))))
      ctx.spark.catalog.clearCache()
      r
    }

  /** One round runs each query once, in a fresh seeded order; returns
    * its ops and wall time.
    */
  private def round(ctx: Ctx, rng: Random, parent: Long): (Seq[OpResult], Double) = {
    val t0 = System.nanoTime()
    val ops = rng.shuffle(queries).map(runOp(ctx, _, parent))
    (ops, (System.nanoTime() - t0) / 1e9)
  }

  def warmup(ctx: Ctx, rng: Random): Unit =
    (1 to QueryWorkload.WarmRounds).flatMap(_ => round(ctx, rng, 0L)._1)
      .foreach(o => println(f"warmup op ${o.name}%-29s ${o.seconds}%.3f"))

  def pass(ctx: Ctx, pass: Int, rng: Random, parent: Long): PassResult = {
    val t0 = System.nanoTime()
    val rounds = (1 to QueryWorkload.Rounds).map(_ => round(ctx, rng, parent))
    val ops = rounds.flatMap(_._1)
    PassResult((System.nanoTime() - t0) / 1e9, ops, ops.map(o => o.name -> o.seconds),
      rounds = rounds.map(_._2))
  }

  override def probes(ctx: Ctx, rng: Random): Map[String, Double] = probe(ctx, rng)
}

object QueryWorkload {
  /** The first warm-up round pays each query's first-run costs. The
    * round after it is still 10-20% slower than later ones (JIT), and
    * across runs it varied about twice as much, so it is warm-up too.
    */
  val WarmRounds = 2
  val Rounds = 2

  /** Short join, window, time-series, event, CSV-source and TPC-H-like
    * queries, a streaming one, and four short curation queries: jaccard
    * near-dup pairs (a scan of the engine's first-touch artifact, built in
    * the warm-up) and three that call a dedup or similarity operator on
    * every run (MinHash-LSH candidates, SimHash, LSH vector search). Each
    * is dominated by planning, job scheduling and file listing rather than
    * by operator compute.
    */
  val analyticMix = new QueryWorkload("analytic_mix", Seq(
    "q07_join_left_outer",
    "q21_win_rank",
    "q129_ts_mom_change",
    "q39_evt_session",
    "q58_src_csv_roundtrip",
    "q135_tpch_q10ish",
    "q148_stream_enrich",
    "q43_llm_neardup_jaccard",
    "q44_llm_neardup_minhash",
    "q45_llm_simhash",
    "q47_llm_ann_lsh",
  ), (ctx, rng) => SourceProbes.run(ctx, rng) ++ OperatorProbes.run(ctx, rng))
}

/** Full-column scans of every input table through the engine's loaders,
  * each forced by a `noop` write.
  */
object SourceProbes {
  def run(ctx: Ctx, rng: Random): Map[String, Double] = {
    val t0 = System.nanoTime()
    graft.sources.Tables.names.foreach { n =>
      val df = if (n == "events") graft.sources.Events.load(ctx.spark, ctx.dir)
        else graft.sources.Tables.load(ctx.spark, ctx.dir, n)
      df.write.format("noop").mode("overwrite").save()
    }
    Map("sources.scan_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

/** Direct calls into `graft.operators` on a seeded probe sample, each
  * forced by a `noop` write, plus work ratios: minhash candidates per
  * true near-dup pair, IVF recall@10 against exact search, and vectors
  * scored per query by single-table LSH.
  */
object OperatorProbes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def run(ctx: Ctx, rng: Random): Map[String, Double] = {
    val s = ctx.spark
    val salt = rng.nextLong()
    val docs = graft.sources.Tables.load(s, ctx.dir, "documents")
      .filter(abs(xxhash64(col("doc_id"), lit(salt))) % 5 === 0) // ~1000 docs
      .select("doc_id", "text").cache()
    docs.count()
    val emb = graft.sources.Tables.load(s, ctx.dir, "embeddings")
    val corpus = emb.select(col("vec_id").as("cid"), col("embedding").as("ce")).cache()
    corpus.count()
    val queries = emb.filter(abs(xxhash64(col("vec_id"), lit(salt))) % 20 === 0) // ~100
      .select(col("vec_id").as("qid"), col("embedding").as("qe")).cache()
    val nq = queries.count().toDouble

    val out = collection.mutable.LinkedHashMap[String, Double]()
    var cands, pairs = 0L
    out("operators.dedup.minhash_s") = timed {
      cands = Dedup.minHashCandidates(docs, "doc_id", "text", 3, 32, 8).count()
    }
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
    out("operators.dedup.jaccard_s") = timed { pairs = jac.count() }
    out("operators.dedup.components_s") = timed { noop(Dedup.components(jac)) }
    out("operators.dedup.simhash_s") = timed {
      noop(docs.select(col("doc_id"), Dedup.simHash(split(col("text"), " ")).as("sh")))
    }
    out("operators.dedup.cand_per_pair") = cands.toDouble / math.max(1L, pairs)

    var exact: Array[(Long, Long)] = Array.empty
    var ivf: Array[(Long, Long)] = Array.empty
    def pairsOf(df: DataFrame) = df.select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    out("operators.similarity.exact_topk_s") = timed {
      exact = pairsOf(Similarity.cosineTopK(queries, corpus, 10))
    }
    out("operators.similarity.ivf_topk_s") = timed {
      ivf = pairsOf(Similarity.ivfTopK(queries, corpus, 10, 16))
    }
    out("operators.similarity.pq_topk_s") = timed {
      noop(Similarity.pqTopK(queries, corpus, 10, 8, 16, 64))
    }
    out("operators.similarity.lsh_topk_s") = timed {
      noop(Similarity.lshTopK(queries, corpus, 10, 4, 64))
    }
    var edges: DataFrame = null
    out("operators.similarity.knn_graph_s") = timed {
      val e = Similarity.lshKnnEdges(corpus, 8, 4, 64)
      val dir = ctx.env.dir("probe_knn").resolve(s"edges_${System.nanoTime()}").toString
      e.write.parquet(dir)
      edges = s.read.parquet(dir)
    }
    out("operators.similarity.beam_s") = timed {
      noop(Similarity.beamTopK(queries, corpus, edges, 10, 8, 3))
    }
    out("operators.similarity.recall_at_10") =
      exact.toSet.intersect(ivf.toSet).size.toDouble / math.max(1, exact.length)
    // single-table LSH scores every corpus vector that shares the query's
    // hyperplane bucket: count those pairs with the same public helpers
    val planes = Similarity.hyperplanes(4, 64)
    val qb = queries.select(VectorFunctions.hyperplaneBucket(col("qe"), planes).as("b"))
    val cb = corpus.select(VectorFunctions.hyperplaneBucket(col("ce"), planes).as("b"))
      .groupBy("b").count()
    val scored = qb.join(cb, "b").agg(sum("count")).head().getLong(0)
    out("operators.similarity.scored_per_query") = scored / math.max(1.0, nq)
    Seq(docs, corpus, queries).foreach(_.unpersist())
    out.toMap
  }
}
