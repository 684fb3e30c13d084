package perfbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.build.{BuildParams, SegmentBuilder}
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.IndexStorage
import graft.model.CorpusRow
import graft.tokenize.Tokenizer

/** `bulk_build`: the paper's headline path. A cached seeded corpus is
  * built into one positional segment and written until it is durable on
  * disk, over and over; nothing is queried. */
object BulkBuild {
  val Docs = 50000L
  /** Set-ups per run; one takes about 0.7 s. */
  val Setups = 5

  val params: BuildParams =
    BuildParams(numPartitions = Main.Cores, bucketSize = 1L << 12, positional = true)

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark

    // set-up: generate and cache the corpus, several times for a steady median
    var corpus: Dataset[CorpusRow] = null
    val setupS = (1 to Main.setups(ctx, Setups)).map { _ =>
      if (corpus != null) corpus.unpersist(true)
      val t0 = System.nanoTime()
      corpus = Inputs.corpus(spark, ctx.seed, "bulk", 0, Docs, Main.Cores)
        .persist(StorageLevel.MEMORY_ONLY)
      corpus.count()
      ctx.elapsed(t0)
    }
    ctx.progress("set-up done")
    val inputBytes = corpus.map(r => Inputs.utf8Bytes(r.content)).reduce(_ + _)

    // warm-up: one build of a slice, so the timed builds run compiled code
    val warm = ctx.freshDir("bulk-warm").toString
    val (w, _) = SegmentBuilder.build(spark,
      DatasetCorpusSource(corpus.limit((Docs / 10).toInt)), params)
    IndexStorage.write(w, warm)
    w.unpersist()

    ctx.progress("warm-up done")

    def pass(): (Seq[Double], Option[java.nio.file.Path], Long) = {
      val times = Seq.newBuilder[Double]
      var last: Option[java.nio.file.Path] = None
      var bytes = 0L
      val t0 = System.nanoTime()
      var n = 0
      while (n < 2 || ctx.elapsed(t0) < ctx.seconds) {
        val dir = ctx.freshDir(s"bulk-$n")
        ctx.op {
          val (seg, _) = ctx.tracer.span("build.SegmentBuilder.build") {
            SegmentBuilder.build(spark, DatasetCorpusSource(corpus), params)
          }
          val segDir = ctx.tracer.span("index.IndexStorage.write") {
            IndexStorage.write(seg, dir.toString)
          }
          seg.unpersist()
          segDir
        }.foreach { case (segDir, ms) =>
          times += ms
          last.foreach(d => Ctx.deleteRec(d.getParent))
          last = Some(segDir)
          bytes = Ctx.bytesUnder(segDir)
        }
        n += 1
      }
      ctx.progress("pass done")
      (times.result(), last, bytes)
    }

    if (ctx.traced) {
      val (before, _, _) = pass()
      ctx.tracer.start()
      val (traced, last, segBytes) = ctx.tracer.span("measure") { pass() }
      val ok = verify(ctx, corpus, last)
      val trace = ctx.stopTrace()
      val contents = corpus.limit(2000).map(_.content).collect()
      val layers = Layers.bulk(ctx, trace, contents, IndexStorage.read(spark, last.get.toString),
        segBytes)
      val (after, _, _) = pass()
      Outcome(ok, Layers.complete(layers ++ Layers.overhead(before, traced, after)))
    } else {
      val (times, last, segBytes) = pass()
      val ok = verify(ctx, corpus, last)
      ctx.progress("checks done")
      val docsPerS = times.map(ms => Docs * 1000.0 / ms)
      val (tp, tv) = Stats.tail(times)
      ctx.say(s"bulk_build: ${times.size} builds of $Docs docs (${inputBytes} content bytes)")
      ctx.note("build_docs_per_s", Stats.median(docsPerS), "1/s", s"median of ${times.size}")
      ctx.note("index_bytes_per_input_byte", segBytes.toDouble / inputBytes, "ratio")
      ctx.note("error_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
      ctx.note("setup_s", Stats.median(setupS), "s", s"median of ${setupS.size}")
      Outcome(ok, Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("throughput_per_s", Stats.median(docsPerS), "1/s"),
        Metric("latency_p50_ms", Stats.median(times), "ms"),
        Metric("latency_tail_ms", tv, "ms"),
        Metric("index_bytes_per_input_byte", segBytes.toDouble / inputBytes, "ratio")))
    }
  }

  /** Untimed: the last written segment reads back with every document,
    * every content hash and every posting. */
  def verify(ctx: Ctx, corpus: Dataset[CorpusRow], last: Option[java.nio.file.Path]): Boolean = {
    import ctx.spark.implicits._
    ctx.check("a segment was written")(last.isDefined) && {
      val seg = ctx.tracer.span("index.IndexStorage.read") {
        val s = IndexStorage.read(ctx.spark, last.get.toString)
        s.docs.count(); s.postings.count()
        s
      }
      val want = corpus.map(r => (r.repo, r.path, Synthesizer.sha256Hex(r.content)))
        .collect().toSet
      val got = seg.docs.select($"repo", $"path", $"sha256").as[(String, String, String)]
        .collect().toSet
      val postings = corpus.map(r => Tokenizer.tokenize(r.content).distinct.length.toLong)
        .reduce(_ + _)
      val stored = seg.postings.agg(sum($"numDocs".cast("long"))).as[Long].head()
      Seq(
        ctx.check("numDocs matches the corpus")(seg.stats.numDocs == Docs),
        ctx.check("every row's sha256 is sha256(content)")(got == want),
        ctx.check("numPostings is the sum of distinct terms per doc")(
          seg.stats.numPostings == postings && stored == postings)
      ).forall(identity)
    }
  }
}
