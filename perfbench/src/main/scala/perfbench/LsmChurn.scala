package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.api.LsmIndex
import graft.build.SegmentBuilder
import graft.corpus.{DatasetCorpusSource, Synthesizer}
import graft.index.{Compaction, IndexStorage}
import graft.model.CorpusRow
import graft.search.{QueryParser, Searcher}

/** `lsm_churn`: one writer drives an `LsmIndex` through a seeded stream of
  * appends, upserts and deletes, with queries between mutations and
  * `maintain()` every few mutations. */
object LsmChurn {
  val BaseDocs = 2000L
  val AppendDocs = 200
  val UpsertDocs = 10
  val DeleteDocs = 5
  /** Enough for 100 queries a cycle, so the tail is a p90 with ten
    * samples beyond it. */
  val QueriesPerMutation = 25
  /** Set-ups per run; one takes about 2.5 s. */
  val Setups = 2
  /** The mutations of one cycle, in order; `maintain()` ends each cycle.
    * A fixed order keeps the operation mix the same on every seed. */
  val Cycle: Seq[String] = Seq("append", "upsert", "delete", "append")
  /** Seconds of `--seconds` per cycle. A cycle takes about 26 s on a
    * 4-vCPU VM; the count depends on `--seconds` only, never on how fast
    * the cycles ran, so every run does the same work. */
  val SecondsPerCycle = 20.0
  /** Larger than LsmIndex.CacheMax, so the result cache cannot hold it. */
  val PoolSize = 512
  val Tag = "lsm"

  /** One live document of the model: its ordinal and content version. */
  final case class Live(i: Long, version: Int, sha: String, bytes: Long)

  /** Latencies and counts of one stream. */
  final class Stream {
    val query = ArrayBuffer.empty[Double]
    val append = ArrayBuffer.empty[Double]
    val upsert = ArrayBuffer.empty[Double]
    val delete = ArrayBuffer.empty[Double]
    val maintain = ArrayBuffer.empty[Double]
    val liveSegments = ArrayBuffer.empty[Int]
    val tombstoneBatches = ArrayBuffer.empty[Long]
    val appendWritten = ArrayBuffer.empty[Long]
    var opMs = 0.0
    var ops = 0
    var written = 0L
    var rewritten = 0L
    var inputBytes = 0L
    var violations = 0
    var zeroHit = 0
  }

  /** An index with its model: every live key and the content it holds. */
  final class State(ctx: Ctx, val dir: Path) {
    val idx = new LsmIndex(ctx.spark, dir.toString, BulkBuild.params)
    val model = mutable.LinkedHashMap.empty[(String, String), Live]
    /** docId -> (key, sha) of every document any segment holds. */
    val byDocId = mutable.HashMap.empty[Long, ((String, String), String)]
    var next = 0L

    def rows(from: Long, until: Long): Seq[CorpusRow] =
      (from until until).map(i => Inputs.row(ctx.seed, Tag, i))

    def add(rs: Seq[(Long, Int, CorpusRow)]): Unit = rs.foreach { case (i, v, r) =>
      model((r.repo, r.path)) = Live(i, v, Synthesizer.sha256Hex(r.content),
        Inputs.utf8Bytes(r.content))
    }

    /** Learn the docIds of segment `segId` (just appended). */
    def learn(segId: Long): Unit = {
      import ctx.spark.implicits._
      IndexStorage.read(ctx.spark, IndexStorage.segDir(dir.toString, segId).toString)
        .docs.select($"docId", $"repo", $"path", $"sha256")
        .as[(Long, String, String, String)].collect()
        .foreach { case (d, r, p, s) => byDocId(d) = ((r, p), s) }
    }

    def relearn(): Unit = {
      byDocId.clear()
      Compaction.listLive(dir.toString).foreach(s => learn(s.segId))
    }
  }

  def setup(ctx: Ctx, name: String): State = {
    val st = new State(ctx, ctx.freshDir(name))
    val base = st.rows(0, BaseDocs)
    val seg = st.idx.append(ctx.spark.createDataset(base)(org.apache.spark.sql.Encoders.product[CorpusRow]))
    st.add(base.zipWithIndex.map { case (r, i) => (i.toLong, 0, r) })
    st.next = BaseDocs
    st.learn(seg)
    st
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    var st: State = null
    val setupS = (1 to Main.setups(ctx, Setups)).map { i =>
      val t0 = System.nanoTime()
      st = setup(ctx, s"lsm-$i")
      ctx.elapsed(t0)
    }
    val pool = {
      val seg = st.idx.liveSegments().head
      Inputs.queries(ctx.seed, PoolSize, seg.dict.collect(),
        st.rows(0, 500).map(_.content).toArray)
    }
    val qparse = pool.map(q => QueryParser.parse(q.text)._1)
    // warm-up: the relational query path compiles on its first queries
    pool.indices.take(12).foreach(j => st.idx.hits(qparse(j), pool(j).text, pool(j).k).collect())
    ctx.progress("warm-up done")

    def stream(st: State): Stream = {
      val s = new Stream
      val rng = new java.util.SplittableRandom(ctx.seed * 31 + 7)
      // Zipf(1) over the pool: a few hot queries, a long tail
      val cdf = {
        val w = (1 to PoolSize).map(r => 1.0 / r)
        val total = w.sum
        w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
      }
      def draw(): Int = {
        val u = rng.nextDouble()
        val j = java.util.Arrays.binarySearch(cdf, u)
        math.min(PoolSize - 1, if (j >= 0) j else -j - 1)
      }
      var files = Ctx.files(st.dir)
      def timed[T](lat: ArrayBuffer[Double])(body: => T): Option[T] =
        ctx.op(body).map { case (v, ms) =>
          lat += ms; s.opMs += ms; s.ops += 1
          val now = Ctx.files(st.dir)
          val w = Ctx.written(files, now)
          s.written += w
          if (lat eq s.maintain) s.rewritten += w
          if (lat eq s.append) s.appendWritten += w
          files = now
          v
        }
      def query(): Unit = {
        val j = draw()
        timed(s.query) {
          ctx.tracer.span("api.LsmIndex.hits") {
            st.idx.hits(qparse(j), pool(j).text, pool(j).k).collect()
          }
        }.foreach { hs =>
          val bad = hs.count { h =>
            st.byDocId.get(h.docId) match {
              case Some((key, sha)) => !st.model.get(key).exists(_.sha == sha)
              case None => true
            }
          }
          if (bad > 0) System.err.println(s"query '${pool(j).text}' returned $bad dead documents")
          if (hs.isEmpty) s.zeroHit += 1
          s.violations += bad
        }
      }
      def mutate(kind: String): Unit = kind match {
        case "append" =>
          val rs = st.rows(st.next, st.next + AppendDocs)
          timed(s.append) {
            ctx.tracer.span("api.LsmIndex.append") { st.idx.append(spark.createDataset(rs)) }
          }.foreach { seg =>
            st.add(rs.zipWithIndex.map { case (r, k) => (st.next + k, 0, r) })
            st.learn(seg)
            s.inputBytes += rs.map(r => Inputs.utf8Bytes(r.content)).sum
          }
          st.next += AppendDocs
        case "upsert" =>
          val keys = st.model.keys.toIndexedSeq
          val picked = Seq.fill(UpsertDocs)(keys(rng.nextInt(keys.size))).distinct
          val rs = picked.map { k =>
            val l = st.model(k)
            (l.i, l.version + 1, Inputs.row(ctx.seed, Tag, l.i, l.version + 1))
          }
          timed(s.upsert) {
            ctx.tracer.span("api.LsmIndex.upsert") { st.idx.upsert(spark.createDataset(rs.map(_._3))) }
          }.foreach { case (_, seg) =>
            st.add(rs)
            st.learn(seg)
            s.inputBytes += rs.map(r => Inputs.utf8Bytes(r._3.content)).sum
          }
        case "delete" =>
          // delete by predicate: some live paths of one repo
          val keys = st.model.keys.toIndexedSeq
          val repo = keys(rng.nextInt(keys.size))._1
          val paths = keys.filter(_._1 == repo).map(_._2).take(DeleteDocs)
          timed(s.delete) {
            ctx.tracer.span("api.LsmIndex.delete") {
              st.idx.delete(col("repo") === repo && col("path").isin(paths: _*))
            }
          }.foreach(_ => paths.foreach(p => st.model.remove((repo, p))))
      }
      (1 to math.max(1, math.ceil(ctx.seconds / SecondsPerCycle).toInt)).foreach { _ =>
        Cycle.foreach { kind =>
          mutate(kind)
          s.liveSegments += Compaction.listLive(st.dir.toString).size
          (0 until QueriesPerMutation).foreach(_ => query())
        }
        s.tombstoneBatches += IndexStorage.tombstoneBatchCount(st.dir.toString)
        timed(s.maintain) { ctx.tracer.span("api.LsmIndex.maintain") { st.idx.maintain() } }
        st.relearn()
      }
      ctx.progress("stream done")
      s
    }

    if (ctx.traced) {
      val before = stream(st)
      val fresh = setup(ctx, "lsm-traced")
      ctx.tracer.start()
      val traced = ctx.tracer.span("measure") { stream(fresh) }
      val ok = verify(ctx, fresh, traced)
      val trace = ctx.stopTrace()
      val contents = fresh.rows(0, 2000).map(_.content).toArray
      val layers = Layers.lsm(ctx, trace, contents, fresh.idx.liveSegments(), traced)
      val after = stream(setup(ctx, "lsm-after"))
      Outcome(ok, Layers.complete(layers ++
        Layers.overhead(before.query.toSeq, traced.query.toSeq, after.query.toSeq)))
    } else report(ctx, st, stream(st), setupS)
  }

  private def report(ctx: Ctx, st: State, s: Stream, setupS: Seq[Double]): Outcome = {
    val ok = verify(ctx, st, s)
    ctx.progress("checks done")
    val spaceAmp = Ctx.bytesUnder(st.dir).toDouble / st.model.values.map(_.bytes).sum
    val opsPerS = s.ops * 1000.0 / s.opMs
    val (tp, tv) = Stats.tail(s.query.toSeq)
    def med(xs: ArrayBuffer[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)
    ctx.say(s"lsm_churn: base $BaseDocs docs, ${s.ops} ops (${s.query.size} queries, " +
      s"${s.append.size} appends, ${s.upsert.size} upserts, ${s.delete.size} deletes, " +
      s"${s.maintain.size} maintains)")
    ctx.note("lsm_ops_per_s", opsPerS, "1/s")
    ctx.note("lsm_query_p50_ms", med(s.query), "ms", s"n=${s.query.size}")
    ctx.note(f"lsm_query_p$tp%.0f_ms", tv, "ms", s"n=${s.query.size}")
    ctx.note("zero_hit_queries", s.zeroHit, "count", s"of ${s.query.size}")
    ctx.note("lsm_append_p50_ms", med(s.append), "ms", s"n=${s.append.size}")
    ctx.note("lsm_maintain_s", med(s.maintain) / 1e3, "s", s"n=${s.maintain.size}")
    ctx.note("lsm_write_amp", s.written.toDouble / s.inputBytes, "ratio")
    ctx.note("lsm_space_amp", spaceAmp, "ratio")
    ctx.note("error_ratio", ctx.failed.toDouble / ctx.attempted, "ratio")
    ctx.note("setup_s", Stats.median(setupS), "s", s"median of ${setupS.size}")
    Outcome(ok, Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("throughput_per_s", opsPerS, "1/s"),
      Metric("latency_p50_ms", Stats.median(s.query.toSeq), "ms"),
      Metric("latency_tail_ms", tv, "ms"),
      Metric("index_bytes_per_input_byte", spaceAmp, "ratio")))
  }

  /** Untimed: no query returned a deleted or superseded document; after a
    * final full `maintain()` the live keys equal the model's, and ranking
    * equals a fresh single-segment build of the model's documents. */
  def verify(ctx: Ctx, st: State, s: Stream): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    val noDead = ctx.check("no query returned a deleted or superseded document")(s.violations == 0)
    st.idx.maintain(Compaction.Policy(tierFactor = 1e9, minMerge = 2, maxMerge = 1000))
    val live = st.idx.liveSegments()
    val keys = live.map(_.docs.select($"repo", $"path").as[(String, String)].collect())
      .reduce(_ ++ _)
    val sameKeys = ctx.check("live keys after maintain() equal the model's")(
      live.size == 1 && IndexStorage.tombstoneBatchCount(st.dir.toString) == 0 &&
        keys.length == st.model.size && keys.toSet == st.model.keySet)
    val rows = st.model.values.map(l => Inputs.row(ctx.seed, Tag, l.i, l.version)).toSeq
    val (mono, _) = SegmentBuilder.build(spark, DatasetCorpusSource(spark.createDataset(rows)),
      BulkBuild.params)
    val keyOf = (seg: graft.build.Segment) =>
      seg.docs.select($"docId", $"repo", $"path").as[(Long, String, String)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val liveKey = keyOf(live.head)
    val monoKey = keyOf(mono)
    val n = st.model.size
    // full-corpus k: set equality of (key, score), since equal scores tie
    // by docId and the two indexes number documents differently
    val byDf = mono.dict.orderBy($"df".desc, $"term").select($"term").as[String].collect()
    val mid = byDf.slice(byDf.length / 3, byDf.length / 3 + 3)
    val probes = Seq(("FREE", mid.mkString(" ")), ("AND", byDf.take(2).mkString(" AND ")),
      ("OR", byDf.takeRight(2).mkString(" OR ")))
    val sameRank = probes.forall { case (kind, text) =>
      val got = st.idx.hits(kind, text, n).collect().map(h => (liveKey(h.docId), h.score)).toSet
      val want = new Searcher(spark, mono).hits(kind, text, n).collect()
        .map(h => (monoKey(h.docId), h.score)).toSet
      got == want && got.nonEmpty
    }
    mono.unpersist()
    val sameScores = ctx.check(s"(key, score) sets equal a fresh build on ${probes.size} queries")(sameRank)
    noDead && sameKeys && sameScores
  }
}
