package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.analytics.{Lpa, PageRank, RecentArticles, SourceDistribution, Timeline}
import graft.dedup.Dedup
import graft.pipeline.{CorpusClean, RefinedWebPipeline}
import graft.similarity.Ivf
import graft.streaming.StreamingIngest
import graft.text.WordFrequencies

/** What a call's final action returned. */
final case class Result(schema: StructType, rows: Array[Row])

/** One call into a repo layer. `build` invokes the layer's public function
  * (including any eager `Mat.pin` jobs it runs) and hands back the final
  * action, which returns the collected rows of a read or `None` for a
  * write. `twin` names the registered query with the same arguments, whose
  * DuckDB oracle checks the output ("" when there is none). */
final case class Call(layer: String, name: String, twin: String,
                      build: () => (() => Option[Result]))

/** A unit of work a user waits on: a dashboard page, a crawl tick, or one
  * batch call. `land` runs before the step's clock starts. */
final case class Step(calls: Seq[Call], land: () => Unit = () => ())

/** Run-wide state a workload sees: the session, the generated corpus, a
  * private scratch directory, and the hook that ties a streaming query's
  * jobs to the call that started it. */
final class Ctx(val spark: SparkSession, val corpus: String, val work: String,
                val mult: Double, val passSize: Int) {
  @volatile var onStream: StreamingQuery => Unit = _ => ()
  // GenSf sizes: multiples of the sf0.1 row counts.
  def n(base: Long): Long = (base * mult).toLong
  def docs: DataFrame = Tables.documents(spark, corpus)
  def events: DataFrame = Tables.events(spark, corpus)
  def lineitem: DataFrame = Tables.lineitem(spark, corpus)
  def embeddings: DataFrame = Tables.embeddings(spark, corpus)
}

/** A workload over one seeded corpus: prepared once, then passes (the
  * first an untimed warm-up), each after a `reset`. */
abstract class Workload(val ctx: Ctx) {
  /** Untimed: runs once before the passes (charged to set-up). */
  def prepare(): Unit = ()
  /** Untimed: restores the input state before every pass. */
  def reset(): Unit = ()
  /** The fixed amount of work one pass does. */
  def pass: Seq[Step]
  /** End-of-run output checks beyond hashes and oracles; returns failures. */
  def verify(last: Map[String, Result]): Seq[String] = Nil
}

object Workloads {
  val Names = Seq("dashboard", "graph", "curation", "incremental")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "dashboard"   => new Dashboard(ctx)
    case "graph"       => new Graph(ctx)
    case "curation"    => new Curation(ctx)
    case "incremental" => new Incremental(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected ${Names.mkString(" | ")})")
  }

  def read(layer: String, name: String, twin: String = "")(df: => DataFrame): Call =
    Call(layer, name, twin, () => {
      val built = df
      () => Some(Result(built.schema, built.collect()))
    })

  def write(layer: String, name: String)(body: => Unit): Call =
    Call(layer, name, "", () => { body; () => None })

  def stream(ctx: Ctx, layer: String, name: String)(w: => DataStreamWriter[Row]): Call =
    Call(layer, name, "", () => {
      val writer = w
      () => {
        val q = writer.start()
        ctx.onStream(q)
        q.awaitTermination()
        None
      }
    })
}

import Workloads.{read, stream, write}

/** The reference dashboard's page load (app.py:112-142): four artifacts
  * over an unchanged corpus, each forced with an action. */
final class Dashboard(ctx: Ctx) extends Workload(ctx) {
  private def page: Step = Step(Seq(
    read("text", "WordFrequencies", "word_frequencies")(WordFrequencies(ctx.docs)),
    read("analytics", "SourceDistribution", "source_distribution")(
      SourceDistribution(ctx.docs)),
    read("analytics", "Timeline", "timeline_daily")(Timeline(ctx.events, "ts")),
    read("analytics", "RecentArticles", "recent_events")(
      RecentArticles(ctx.events.select(col("event_id"), col("ts"), col("event_type"),
        col("user_id")), 5, col("ts").desc, col("event_id").desc))))

  def pass: Seq[Step] = Seq.fill(ctx.passSize)(page)
}

/** The iterative graph loops over the part co-purchase graph. */
final class Graph(ctx: Ctx) extends Workload(ctx) {
  def pass: Seq[Step] = Seq(
    read("analytics", "PageRank.copurchaseParts", "part_pagerank")(
      PageRank.copurchaseParts(ctx.lineitem)),
    read("analytics", "Lpa.partCommunities", "part_communities")(
      Lpa.partCommunities(ctx.lineitem, 3)),
    read("analytics", "PageRank.orderPartHits", "order_part_hits")(
      PageRank.orderPartHits(ctx.lineitem, 5)),
    read("analytics", "PageRank.copurchaseSpamMass", "trust_propagation")(
      PageRank.copurchaseSpamMass(ctx.lineitem))).map(c => Step(Seq(c)))
}

/** LLM-corpus curation: near-dup detection, clustering and two pipelines. */
final class Curation(ctx: Ctx) extends Workload(ctx) {
  def pass: Seq[Step] = Seq(
    read("dedup", "Dedup.nearDupMinHash", "dedup_near_minhash")(
      Dedup.nearDupMinHash(ctx.docs, "doc_id", "text", 0.9)),
    read("dedup", "Dedup.nearDupKeepers", "dedup_keepers")(
      Dedup.nearDupKeepers(ctx.docs, "doc_id", "text", "source", 0.9)),
    read("pipeline", "CorpusClean", "corpus_clean")(CorpusClean(ctx.docs)),
    read("pipeline", "RefinedWebPipeline", "corpus_pipeline_refinedweb")(
      RefinedWebPipeline(graft.EntryFixtures.withFixtureUrls(ctx.docs),
        blocked = Seq("foo.co.uk"),
        gopherTh = graft.EntryFixtures.FunnelThresholds,
        repetitionTh = graft.EntryFixtures.RepetitionThresholds,
        cap = 15))).map(c => Step(Seq(c)))
}

/** The crawl loop: half the corpus is history; the rest lands in equal
  * ticks, each deduplicated into the sink by the streaming operator,
  * appended to the IVF store, searched, and read back by the dashboard.
  * The history state is built once and restored before every pass. */
final class Incremental(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private val docsN = ctx.n(5000)
  private val embN = ctx.n(2000)
  private val ticks = ctx.passSize
  private val live: Path = Paths.get(ctx.work, "live")
  private val snap: Path = Paths.get(ctx.work, "snap")
  private def p(name: String) = live.resolve(name).toString
  private def stage(name: String) = Paths.get(ctx.work, "stage", name)
  // Tick k's id range of the second half of [0, n).
  private def range(n: Long, k: Int) =
    (n / 2 + k * (n - n / 2) / ticks, n / 2 + (k + 1) * (n - n / 2) / ticks)
  private def emb(lo: Long, hi: Long) =
    ctx.embeddings.filter(col("vec_id") >= lo && col("vec_id") < hi)
  private def probes(hi: Long) = emb(0, hi).filter(col("vec_id") % 50 === 0)
  private lazy val centers = Ivf.fitCentroids(emb(0, embN / 2), 16)
  private lazy val docSchema = ctx.docs.schema
  private def docStream: DataFrame = spark.readStream.schema(docSchema).parquet(p("in"))

  def sinkDir: String = p("sink")

  /** A crawl drop: the staged slice's file appears in the stream input. */
  private def land(staged: Path): Unit = {
    val in = live.resolve("in")
    Files.createDirectories(in)
    Fs.list(staged).filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
      val tmp = in.resolve(s".${staged.getFileName}.tmp")
      Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, in.resolve(s"${staged.getFileName}.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** History into sink, index and store; tick slices staged. */
  override def prepare(): Unit = {
    def slice(lo: Long, hi: Long, name: String): Unit =
      ctx.docs.filter(col("doc_id") >= lo && col("doc_id") < hi).coalesce(1)
        .write.parquet(stage(name).toString)
    slice(0, docsN / 2, "history")
    land(stage("history"))
    StreamingIngest.nearDupDedupViaSinkIndex(docStream, p("sink"), p("index"), p("ckpt"))
      .start().awaitTermination()
    Ivf.writeListPartitioned(emb(0, embN / 2), centers, p("store"))
    (0 until ticks).foreach { k =>
      val (lo, hi) = range(docsN, k)
      slice(lo, hi, s"tick$k")
    }
    Fs.copyTree(live, snap)
  }

  override def reset(): Unit = { Fs.delete(live); Fs.copyTree(snap, live) }

  def pass: Seq[Step] = (0 until ticks).map { k =>
    val (elo, ehi) = range(embN, k)
    Step(Seq(
      stream(ctx, "streaming", "StreamingIngest.nearDupDedupViaSinkIndex")(
        StreamingIngest.nearDupDedupViaSinkIndex(docStream, p("sink"), p("index"), p("ckpt"))),
      write("similarity", "Ivf.appendToStore")(
        Ivf.appendToStore(emb(elo, ehi), centers, p("store"))),
      read("similarity", "Ivf.knnIvfStored")(
        Ivf.knnIvfStored(spark, p("store"), centers, probes(ehi), 5)),
      read("text", "WordFrequencies")(WordFrequencies(spark.read.parquet(p("sink")))),
      read("analytics", "SourceDistribution")(
        SourceDistribution(spark.read.parquet(p("sink"))))),
      land = () => land(stage(s"tick$k")))
  }

  /** The grown state after a full pass: sink and index hold the same
    * docs, and the stored search equals the in-memory search over the
    * union under the same centers. */
  override def verify(last: Map[String, Result]): Seq[String] = {
    val sinkIds = spark.read.parquet(p("sink")).select(col("doc_id").cast("long"))
    val indexIds = spark.read.parquet(p("index")).select(col("doc_id").cast("long"))
    val counts = Seq(sinkIds.count(), sinkIds.distinct().count(),
      indexIds.count(), indexIds.distinct().count())
    val idsDiffer = sinkIds.exceptAll(indexIds).count() + indexIds.exceptAll(sinkIds).count()
    val expect = Ivf.knnIvfWith(centers, emb(0, embN), probes(embN), 5).collect()
    Seq(
      if (counts.distinct.size == 1 && idsDiffer == 0) None
      else Some(s"sink/index disagree: rows,distinct sink=${counts.take(2)} " +
        s"index=${counts.drop(2)} differing ids=$idsDiffer"),
      last.get(s"${ticks - 1}.2.Ivf.knnIvfStored") match {
        case Some(r) if Hash.rows(r.rows) == Hash.rows(expect) => None
        case _ => Some("knnIvfStored over the grown store != Ivf.knnIvfWith over the union")
      }).flatten
  }
}

/** Small filesystem helpers for the incremental workload's state dirs. */
object Fs {
  def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toSeq.sorted }
    finally s.close()
  }
  def delete(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) list(p).foreach(delete)
    Files.delete(p)
  }
  def copyTree(from: Path, to: Path): Unit = {
    if (Files.isDirectory(from)) {
      Files.createDirectories(to)
      list(from).foreach(c => copyTree(c, to.resolve(c.getFileName.toString)))
    } else Files.copy(from, to, StandardCopyOption.COPY_ATTRIBUTES)
  }
}
