package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.storage.StorageLevel

import graft.build.{Segment, SegmentBuilder}
import graft.corpus.DatasetCorpusSource
import graft.index.IndexStorage
import graft.model.Hit
import graft.search.{QueryParser, Searcher, ServingSearcher}

/** `serve_topk`: top-k queries against a pinned `ServingSearcher`. Builds
  * happen before set-up. Phase a is one closed-loop client, phase b four,
  * phase c runs a subset through the relational `Searcher`. */
object ServeTopk {
  /** The serving index has bulk_build's shape. */
  val Docs: Long = BulkBuild.Docs
  /** Set-ups per run; one takes about 0.4 s. */
  val Setups = 5
  val PoolSize = 4000
  val MinSerial = 1000
  val WarmupS = 12.0
  val Rounds = 10

  final case class Served(lat: Seq[Double], zeroHit: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    // prepared once: the seeded index, built and durable on disk
    val corpus = Inputs.corpus(spark, ctx.seed, "serve", 0, Docs, Main.Cores)
      .persist(StorageLevel.MEMORY_ONLY)
    val inputBytes = corpus.map(r => Inputs.utf8Bytes(r.content)).reduce(_ + _)
    val (built, _) = SegmentBuilder.build(spark, DatasetCorpusSource(corpus), BulkBuild.params)
    val dir = IndexStorage.write(built, ctx.freshDir("serve").toString).toString
    built.unpersist(); corpus.unpersist()
    val segBytes = Ctx.bytesUnder(java.nio.file.Paths.get(dir))
    ctx.progress("index prepared")

    // set-up: open the index and pin it for serving, several times
    var serving: ServingSearcher = null
    var seg: Segment = null
    val setupS = (1 to Main.setups(ctx, Setups)).map { _ =>
      if (serving != null) serving.close()
      val t0 = System.nanoTime()
      seg = IndexStorage.read(spark, dir)
      serving = new ServingSearcher(spark, seg)
      ctx.elapsed(t0)
    }
    ctx.progress("set-up done")
    val docSample =
      Inputs.corpus(spark, ctx.seed, "serve", 0, 2000, Main.Cores).map(_.content).collect()
    val pool = Inputs.queries(ctx.seed, PoolSize, seg.dict.collect(), docSample)
    val searcher = new Searcher(spark, seg)

    def serve(q: Inputs.Query): Array[Hit] = {
      val kind = ctx.tracer.span("search.QueryParser.parse") { QueryParser.parse(q.text)._1 }
      ctx.tracer.span("search.ServingSearcher.hits") { serving.hits(kind, q.text, q.k) }
    }

    /** `n` closed-loop clients for `seconds`, taking queries from the pool
      * at `next`; returns the queries served. */
    def clients(n: Int, seconds: Double, next: AtomicInteger): Int = {
      val done = new AtomicInteger(0)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val spans = ctx.tracer.context
      val ts = (0 until n).map { _ =>
        val t = new Thread(() => ctx.tracer.adopt(spans) {
          while (System.nanoTime() < deadline) {
            val q = pool(next.getAndIncrement() % pool.length)
            if (ctx.op(serve(q)).isDefined) done.incrementAndGet()
          }
        })
        t.start(); t
      }
      ts.foreach(_.join())
      done.get
    }

    // warm-up: the serving path keeps getting faster for many seconds as
    // it compiles; four clients get it there sooner than one
    clients(Main.Cores, WarmupS, new AtomicInteger(0))
    ctx.progress("warm-up done")

    /** Phases a and b alternate in `Rounds` rounds, so a burst of load
      * from outside the benchmark hits part of each rather than all of
      * one. Phase a: one client, half the run and at least `MinSerial`
      * queries in all. Phase b: four clients for 0.3 of the run; queries/s. */
    def phasesAB(): (Served, (Double, Int)) = {
      val lat = ArrayBuffer.empty[Double]
      var zero = 0
      var i = 0
      val nextB = new AtomicInteger(0)
      var servedB = 0
      var secondsB = 0.0
      (0 until Rounds).foreach { r =>
        val (n0, b0) = (lat.size, servedB)
        ctx.tracer.span("phase.a") {
          val (t0, i0) = (System.nanoTime(), i)
          while (i - i0 < MinSerial / Rounds || ctx.elapsed(t0) < ctx.seconds * 0.5 / Rounds) {
            ctx.op(serve(pool(i % pool.length))).foreach { case (h, ms) =>
              lat += ms; if (h.isEmpty) zero += 1
            }
            i += 1
          }
        }
        ctx.tracer.span("phase.b") {
          val t0 = System.nanoTime()
          servedB += clients(Main.Cores, ctx.seconds * 0.3 / Rounds, nextB)
          secondsB += ctx.elapsed(t0)
        }
        ctx.progress(f"round $r: phase a p50 ${Stats.median(lat.drop(n0).toSeq)}%.2f ms, " +
          f"phase b ${(servedB - b0) / (ctx.seconds * 0.3 / Rounds)}%.0f queries/s")
      }
      (Served(lat.toSeq, zero), (servedB / secondsB, servedB))
    }

    /** Phase c: relational `Searcher.hits(..).collect()` for 0.2 of the run. */
    def phaseC(): Seq[Double] = {
      val lat = ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var i = 0
      while (i < 5 || ctx.elapsed(t0) < ctx.seconds * 0.2) {
        val q = pool((i * 7 + 3) % pool.length)
        ctx.op {
          val kind = QueryParser.parse(q.text)._1
          val ds = ctx.tracer.span("search.Searcher.hits") { searcher.hits(kind, q.text, q.k) }
          ctx.tracer.span("search.Dataset.collect") { ds.collect() }
        }.foreach { case (_, ms) => lat += ms }
        i += 1
      }
      lat.toSeq
    }

    def pass(): (Served, (Double, Int), Seq[Double]) = {
      val (a, b) = phasesAB()
      val c = ctx.tracer.span("phase.c") { phaseC() }
      ctx.progress("pass done")
      (a, b, c)
    }

    val outcome = if (ctx.traced) {
      val (before, _, _) = pass()
      ctx.tracer.start()
      val (traced, _, _) = ctx.tracer.span("measure") { pass() }
      val ok = verify(ctx, serving, dir, pool)
      val trace = ctx.stopTrace()
      val (after, _, _) = pass()
      Outcome(ok, Layers.complete(Layers.serve(ctx, trace, docSample, seg,
        traced.zeroHit.toDouble / traced.lat.size) ++
        Layers.overhead(before.lat, traced.lat, after.lat)))
    } else {
      val (a, (qps, nb), rel) = pass()
      val ok = verify(ctx, serving, dir, pool)
      ctx.progress("checks done")
      val (tp, tv) = Stats.tail(a.lat)
      ctx.say(s"serve_topk: $Docs docs, pool of ${pool.length} queries " +
        s"(${Inputs.Kinds.map(k => s"$k ${pool.count(q => QueryParser.parse(q.text)._1 == k)}").mkString(", ")})")
      ctx.note("query_p50_ms", Stats.median(a.lat), "ms", s"phase a, n=${a.lat.size}")
      ctx.note(f"query_p$tp%.0f_ms", tv, "ms", s"phase a, n=${a.lat.size}")
      ctx.note("serve_qps", qps, "1/s", s"phase b, ${Main.Cores} clients, n=$nb")
      ctx.note("relational_p50_ms", Stats.median(rel), "ms", s"phase c, n=${rel.size}")
      ctx.note("zero_hit_queries", a.zeroHit, "count", s"of ${a.lat.size} in phase a")
      ctx.note("index_bytes_per_input_byte", segBytes.toDouble / inputBytes, "ratio")
      ctx.note("error_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
      ctx.note("setup_s", Stats.median(setupS), "s", s"median of ${setupS.size}")
      Outcome(ok, Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("throughput_per_s", qps, "1/s"),
        Metric("latency_p50_ms", Stats.median(a.lat), "ms"),
        Metric("latency_tail_ms", tv, "ms"),
        Metric("index_bytes_per_input_byte", segBytes.toDouble / inputBytes, "ratio")))
    }
    serving.close()
    outcome
  }

  /** Untimed: on a sample of the pool, the serving hits equal the
    * relational hits and the exhaustive (unpruned) hits of the index read
    * back from disk, bit for bit. */
  def verify(ctx: Ctx, serving: ServingSearcher, dir: String,
             pool: Array[Inputs.Query]): Boolean = {
    val seg = ctx.tracer.span("index.IndexStorage.read") {
      val s = IndexStorage.read(ctx.spark, dir)
      s.docs.count(); s.postings.count()
      s
    }
    val searcher = new Searcher(ctx.spark, seg)
    def key(hs: Seq[Hit]) = hs.map(h => (h.rank, h.docId, h.score))
    val sample = pool.indices.filter(_ % 97 == 5).take(10).map(pool(_))
    val same = sample.map { q =>
      val kind = QueryParser.parse(q.text)._1
      val got = key(serving.hits(kind, q.text, q.k).toSeq)
      got == key(searcher.hits(kind, q.text, q.k).collect().toSeq) &&
        got == key(searcher.hitsExhaustive(kind, q.text, q.k).collect().toSeq)
    }
    ctx.check(s"serving == relational == exhaustive on ${sample.size} queries")(same.forall(identity))
  }
}
