package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.Graph
import graft.pipeline.CurationPipeline

/** Corpus curation over a generated corpus directory (`docs/`, `edges/`
  * parquet and `n.txt`, written by `corpus.py`): a PageRank prior over the
  * link graph, then `CurationPipeline.runV4`, then the survivors to parquet.
  */
object Curate {
  val DomainCap = 40
  val ClassifierIters = 2
  val PageRankIters = 3

  def docCount(corpus: Path): Long = Files.readString(corpus.resolve("n.txt")).trim.toLong

  /** Documents whose rank clears 1.3x the teleport floor, i.e. that have
    * at least one real in-link, pass the centrality gate.
    */
  def minRankMicro(n: Long): Long = math.round(195000.0 / n)

  def run(spark: SparkSession, corpus: Path, out: Path, tr: Tracer): Unit = {
    val docs = spark.read.parquet(corpus.resolve("docs").toString)
    val edges = spark.read.parquet(corpus.resolve("edges").toString)
    val n = docCount(corpus)
    val prior = tr.span("operators.graph.pagerank") {
      tr.mat(Graph.pageRank(docs.select(col("doc_id")), edges, iters = PageRankIters).select(col("doc_id"), col("rank_micro")))
    }
    val curated = tr.span("pipeline.curation") {
      tr.mat(CurationPipeline.runV4(docs, col("text").contains("customer"), prior,
        minRankMicro(n), DomainCap, iters = ClassifierIters))
    }
    tr.span("sinks.output_write") { curated.write.mode("overwrite").parquet(out.toString) }
  }

  /** Violations in the written output, and survivors / input documents. */
  def check(spark: SparkSession, corpus: Path, out: Path): (Seq[String], Double) = {
    val errs = Seq.newBuilder[String]
    def fail(msg: String): Unit = errs += msg
    var ratio = 0.0
    try {
      val res = spark.read.parquet(out.toString)
      val docs = spark.read.parquet(corpus.resolve("docs").toString)
      val j = res.select("doc_id", "domain", "rank_in_domain")
        .join(docs.select("doc_id", "url", "text"), Seq("doc_id"), "left")
      val r = j.agg(count(lit(1)), countDistinct(col("doc_id")), count(col("text")),
        count(col("url")), countDistinct(GraftFunctions.canonicalUrl(col("url"))),
        countDistinct(GraftFunctions.fingerprint(col("text"))), max(col("rank_in_domain"))).head()
      val n = r.getLong(0)
      ratio = n.toDouble / docCount(corpus)
      if (n == 0) fail("no survivors")
      if (r.getLong(1) != n) fail("duplicate doc_id among survivors")
      if (r.getLong(2) != n) fail("survivors missing from the corpus")
      if (r.getLong(4) != r.getLong(3)) fail(s"${r.getLong(3) - r.getLong(4)} survivors share a canonical url")
      if (r.getLong(5) != n) fail(s"${n - r.getLong(5)} survivors share an exact-text fingerprint")
      if (!r.isNullAt(6) && r.getLong(6) > DomainCap) fail("rank_in_domain above the cap")
      val over = j.filter(col("domain").isNotNull).groupBy("domain").count()
        .filter(col("count") > DomainCap).count()
      if (over > 0) fail(s"$over domains exceed the cap of $DomainCap")
    } catch {
      case e: Exception => fail(s"check raised ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    (errs.result(), ratio)
  }
}
