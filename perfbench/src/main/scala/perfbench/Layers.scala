package perfbench

import org.apache.spark.sql.functions._

import graft.build.Segment
import graft.codec.PostingCodec
import graft.tokenize.Tokenizer

/** Per-layer metrics of a traced pass. Every workload reports every
  * metric; a layer a workload leaves idle reads 0. README.md says which
  * end-to-end metric each one should move. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "tokenize.tokens_per_s" -> "1/s",
    "build.tf_s" -> "s", "build.docs_s" -> "s", "build.docs_overlap_s" -> "s",
    "build.dict_s" -> "s", "build.encode_s" -> "s", "build.driver_gap_s" -> "s",
    "build.jobs" -> "count", "build.stages" -> "count", "build.tasks" -> "count",
    "build.task_cpu_s" -> "s", "build.gc_s" -> "s", "build.cpu_util" -> "ratio",
    "build.shuffle_write_bytes" -> "B", "build.spill_bytes" -> "B",
    "codec.bytes_per_posting" -> "B", "codec.decode_postings_per_s" -> "1/s",
    "index.write_s" -> "s", "index.write_bytes" -> "B", "index.read_s" -> "s",
    "index.live_segments_mean" -> "count", "index.live_segments_max" -> "count",
    "index.tombstone_batches" -> "count", "index.bytes_rewritten" -> "B",
    "index.maintain_jobs" -> "count",
    "search.parse_us" -> "us", "search.pre_job_ms" -> "ms", "search.sched_ms" -> "ms",
    "search.task_run_ms" -> "ms", "search.post_job_ms" -> "ms",
    "search.jobs_per_query" -> "count", "search.tasks_per_query" -> "count",
    "search.zero_job_share" -> "ratio", "search.zero_hit_share" -> "ratio",
    "search.queue_wait_ms" -> "ms",
    "search.rel_plan_ms" -> "ms", "search.rel_exec_ms" -> "ms",
    "search.rel_jobs_per_query" -> "count", "search.rel_stages_per_query" -> "count",
    "api.cache_hit_share" -> "ratio", "api.delete_ms" -> "ms", "api.upsert_ms" -> "ms",
    "api.query_ms_per_live_segment" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "trace.overhead_pct" -> "%")

  type M = Map[String, Double]

  /** Every metric of `All`, 0 where the workload left the layer idle. */
  def complete(m: M): Seq[Metric] = {
    require(m.keySet.subsetOf(All.map(_._1).toSet), s"unknown metrics ${m.keySet -- All.map(_._1)}")
    All.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) }
  }

  /** Postings decoded per second by `PostingCodec.decodeAll` over a
    * sample of the segment's lists, single-threaded on the driver. */
  private def decodeRate(seg: Segment): Double = {
    val lists = seg.postings.limit(4000).collect()
      .map(pl => PostingCodec.Packed(pl.numDocs, pl.lastDocIds, pl.maxImpacts, pl.offsets, pl.bytes))
    val positional = seg.params.positional
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L || n == 0)
      lists.foreach { p => n += PostingCodec.decodeAll(p, positional)._1.length }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Tokens per second from `Tokenizer.tokenize` over a sample of the
    * corpus, single-threaded on the driver. */
  private def tokenizeRate(contents: Array[String]): Double = {
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L || n == 0)
      contents.foreach(c => n += Tokenizer.tokenize(c).length)
    n / ((System.nanoTime() - t0) / 1e9)
  }

  private def mean(xs: Iterable[Double]): Double = Stats.mean(xs.toSeq)

  /** Tracing overhead in percent: the traced pass's median latency against
    * the mean of the untraced passes run before and after it, which
    * cancels the warm-up that is still under way. */
  def overhead(before: Seq[Double], traced: Seq[Double], after: Seq[Double]): M = {
    val untraced = (Stats.median(before) + Stats.median(after)) / 2
    Map("trace.overhead_pct" -> (Stats.median(traced) - untraced) / untraced * 100)
  }

  /** The phases of `SegmentBuilder`, named by the `graft:` job
    * descriptions it sets. */
  private val Phases = Seq("tf" -> "graft: tf materialize", "docs" -> "graft: docs materialize",
    "dict" -> "graft: dictionary", "encode" -> "graft: posting encode")

  /** Build-phase split and resource counts, averaged over `windows`: one
    * (start, end, jobs) per build. */
  private def build(t: Trace, windows: Seq[(Double, Double, Seq[Job])]): M = {
    if (windows.isEmpty) return Map.empty
    def phase(js: Seq[Job], p: String) =
      js.filter(j => Option(j.desc).exists(_.startsWith(Phases.toMap.apply(p))))
    val per = windows.map { case (a, b, js) =>
      val ivs = Phases.map { case (p, _) => p -> phase(js, p).map(_.interval) }.toMap
      val u = t.usage(js)
      val wall = (b - a) / 1e3
      Map(
        "build.tf_s" -> Stats.unionLength(ivs("tf")) / 1e3,
        "build.docs_s" -> Stats.unionLength(ivs("docs")) / 1e3,
        "build.docs_overlap_s" -> Stats.overlap(ivs("docs"),
          (ivs - "docs").values.flatten.toSeq) / 1e3,
        "build.dict_s" -> Stats.unionLength(ivs("dict")) / 1e3,
        "build.encode_s" -> Stats.unionLength(ivs("encode")) / 1e3,
        "build.driver_gap_s" -> Stats.uncovered((a, b), js.map(_.interval)) / 1e3,
        "build.jobs" -> u.jobs.toDouble, "build.stages" -> u.stages.toDouble,
        "build.tasks" -> u.tasks.toDouble, "build.task_cpu_s" -> u.cpuS,
        "build.gc_s" -> u.gcS, "build.cpu_util" -> u.cpuS / (wall * Main.Cores),
        "build.shuffle_write_bytes" -> u.shuffleWrite.toDouble,
        "build.spill_bytes" -> u.spill.toDouble)
    }
    per.head.keys.map(k => k -> mean(per.map(_(k)))).toMap
  }

  private def sparkTotals(t: Trace): M = {
    val m = t.named("measure").head
    val js = t.jobsUnder(m)
    val u = t.usage(js)
    Map("spark.jobs" -> u.jobs.toDouble, "spark.tasks" -> u.tasks.toDouble,
      "spark.driver_gap_s" -> t.driverGapMs(m) / 1e3)
  }

  private def durMs(t: Trace, name: String): Seq[Double] = t.named(name).map(_.dur)

  /** (bytes per posting, postings decoded per second) of a segment. */
  private def codec(seg: Segment): M = {
    import seg.postings.sparkSession.implicits._
    val (n, bytes) = seg.postings.agg(sum($"numDocs".cast("long")), sum(length($"bytes").cast("long")))
      .as[(Long, Long)].head()
    Map("codec.bytes_per_posting" -> bytes.toDouble / n,
      "codec.decode_postings_per_s" -> decodeRate(seg))
  }

  def bulk(ctx: Ctx, t: Trace, contents: Array[String], seg: Segment, segBytes: Long): M = {
    val builds = t.named("build.SegmentBuilder.build").map(s => (s.start, s.end, t.jobsUnder(s)))
    build(t, builds) ++ codec(seg) ++ sparkTotals(t) ++ Map(
      "tokenize.tokens_per_s" -> tokenizeRate(contents),
      "index.write_s" -> mean(durMs(t, "index.IndexStorage.write")) / 1e3,
      "index.write_bytes" -> segBytes.toDouble,
      "index.read_s" -> mean(durMs(t, "index.IndexStorage.read")) / 1e3)
  }

  /** Serving split per query: parse, call to first job, scheduling (job
    * wall minus its longest task), the walk (longest task), and the
    * driver-side merge after the last job. */
  def serve(ctx: Ctx, t: Trace, contents: Array[String], seg: Segment,
            zeroHitShare: Double): M = {
    val (a, b, c) = (t.named("phase.a"), t.named("phase.b"), t.named("phase.c"))
    def under(ps: Seq[Span], name: String) = {
      val ids = ps.flatMap(p => t.subtree(p.id)).toSet
      t.spans.filter(s => s.name == name && ids(s.id))
    }
    val qa = under(a, "search.ServingSearcher.hits").map(s => s -> t.jobsUnder(s).sortBy(_.start))
    val withJobs = qa.filter(_._2.nonEmpty)
    def longest(j: Job) = {
      val ts = t.tasksOf(Seq(j))
      if (ts.isEmpty) 0.0 else ts.map(_.dur).max
    }
    val split = withJobs.map { case (s, js) =>
      val walk = js.map(longest).sum
      (js.head.start - s.start, js.map(j => j.end - j.start).sum - walk, walk, s.end - js.last.end)
    }
    val queue = under(b, "search.ServingSearcher.hits").flatMap(t.jobsUnder).flatMap { j =>
      val ts = t.tasksOf(Seq(j))
      if (ts.isEmpty) None else Some(ts.map(_.launch).min - j.start)
    }
    val plans = under(c, "search.Searcher.hits")
    val execs = under(c, "search.Dataset.collect")
    val relJobs = (plans ++ execs).flatMap(t.jobsUnder)
    val nRel = math.max(1, execs.size).toDouble
    sparkTotals(t) ++ codec(seg) ++ Map(
      "tokenize.tokens_per_s" -> tokenizeRate(contents),
      "index.read_s" -> mean(durMs(t, "index.IndexStorage.read")) / 1e3,
      "search.parse_us" -> mean(under(a, "search.QueryParser.parse").map(_.dur)) * 1e3,
      "search.pre_job_ms" -> mean(split.map(_._1)),
      "search.sched_ms" -> mean(split.map(_._2)),
      "search.task_run_ms" -> mean(split.map(_._3)),
      "search.post_job_ms" -> mean(split.map(_._4)),
      "search.jobs_per_query" -> qa.map(_._2.size.toDouble).sum / qa.size,
      "search.tasks_per_query" -> t.tasksOf(qa.flatMap(_._2)).size.toDouble / qa.size,
      "search.zero_job_share" -> (qa.size - withJobs.size).toDouble / qa.size,
      "search.zero_hit_share" -> zeroHitShare,
      "search.queue_wait_ms" -> mean(queue),
      "search.rel_plan_ms" -> mean(plans.map(_.dur)),
      "search.rel_exec_ms" -> mean(execs.map(_.dur)),
      "search.rel_jobs_per_query" -> relJobs.size / nRel,
      "search.rel_stages_per_query" -> t.stagesOf(relJobs).size / nRel)
  }

  def lsm(ctx: Ctx, t: Trace, contents: Array[String], live: Seq[Segment],
          s: LsmChurn.Stream): M = {
    // an append builds, then writes: the build ends with its last
    // `graft:`-described job, the rest of the call is the write
    val appends = t.named("api.LsmIndex.append").map { a =>
      val js = t.jobsUnder(a)
      val built = js.filter(j => Option(j.desc).exists(_.startsWith("graft:")))
      val end = if (built.isEmpty) a.end else built.map(_.end).max
      (a, end, js.filter(_.start <= end))
    }
    val queries = t.named("api.LsmIndex.hits").map(q => q -> t.jobsUnder(q).size)
    val missed = queries.filter(_._2 > 0).map(_._1.dur)
    val maintains = t.named("api.LsmIndex.maintain")
    build(t, appends.map { case (a, end, js) => (a.start, end, js) }) ++
      sparkTotals(t) ++ codec(live.head) ++ Map(
      "tokenize.tokens_per_s" -> tokenizeRate(contents),
      "index.write_s" -> mean(appends.map { case (a, end, _) => a.end - end }) / 1e3,
      "index.write_bytes" -> mean(s.appendWritten.map(_.toDouble)),
      "index.live_segments_mean" -> mean(s.liveSegments.map(_.toDouble)),
      "index.live_segments_max" -> s.liveSegments.max.toDouble,
      "index.tombstone_batches" -> mean(s.tombstoneBatches.map(_.toDouble)),
      "index.bytes_rewritten" -> s.rewritten.toDouble / math.max(1, s.maintain.size),
      "index.maintain_jobs" -> maintains.map(m => t.jobsUnder(m).size.toDouble).sum /
        math.max(1, maintains.size),
      "api.cache_hit_share" -> queries.count(_._2 == 0).toDouble / queries.size,
      "api.delete_ms" -> (if (s.delete.isEmpty) 0.0 else Stats.median(s.delete.toSeq)),
      "api.upsert_ms" -> (if (s.upsert.isEmpty) 0.0 else Stats.median(s.upsert.toSeq)),
      "api.query_ms_per_live_segment" -> mean(missed) / mean(s.liveSegments.map(_.toDouble)))
  }
}
