package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def job(id: Int, start: Double, end: Double, span: Int, stages: Seq[Int] = Nil,
                  desc: String = null) = Job(id, start, end, desc, span, stages)

  test("overlapping jobs from concurrent spans go to the span that submitted them") {
    // two clients' queries overlap in time; each job carries its span id
    val spans = Seq(Span(1, "q", 0, 0.0, 10.0), Span(2, "q", 0, 2.0, 12.0))
    val t = Trace(spans, Seq(job(1, 3.0, 8.0, 1), job(2, 4.0, 11.0, 2)), Nil, Nil)
    assert(t.jobSpan == Map(1 -> 1, 2 -> 2))
  }

  test("a job with a stale or missing span id goes to the latest span open at its start") {
    // a pool thread inherited span 1's id; span 1 is closed when the job
    // starts inside span 3 (nested in 2)
    val spans = Seq(Span(1, "old", 0, 0.0, 5.0), Span(2, "build", 0, 10.0, 30.0),
      Span(3, "phase", 2, 12.0, 20.0))
    val t = Trace(spans, Seq(job(1, 15.0, 25.0, 1), job(2, 22.0, 24.0, -1),
      job(3, 40.0, 41.0, -1)), Nil, Nil)
    assert(t.jobSpan == Map(1 -> 3, 2 -> 2)) // job 3 runs in no span
    assert(t.jobsUnder(spans(1)).map(_.id) == Seq(1, 2))
    assert(t.jobsUnder(spans(2)).map(_.id) == Seq(1))
  }

  test("a job submitted just before its span's millisecond tick still belongs to it") {
    // listener times are whole milliseconds; span times are not
    val spans = Seq(Span(1, "q", 0, 100.4, 103.0))
    val t = Trace(spans, Seq(job(1, 100.0, 102.0, 1), job(2, 100.0, 101.0, -1)), Nil, Nil)
    assert(t.jobSpan == Map(1 -> 1, 2 -> 1))
  }

  test("tasks and stages follow their stage's job when jobs overlap") {
    val spans = Seq(Span(1, "a", 0, 0.0, 100.0), Span(2, "b", 0, 0.0, 100.0))
    // stage 7 is listed by both jobs; job 2 (started later) runs it
    val jobs = Seq(job(1, 10.0, 50.0, 1, Seq(5, 7)), job(2, 20.0, 60.0, 2, Seq(7, 8)))
    val stages = Seq(Stage(5, 10.0), Stage(7, 25.0), Stage(8, 40.0))
    def task(stage: Int, cpu: Double) =
      Task(stage, 0, 1, 1.0, cpu, 0.0, 100L, 0L, 0L, 10L)
    val tasks = Seq(task(5, 1000), task(7, 2000), task(7, 2000), task(8, 4000))
    val t = Trace(spans, jobs, stages, tasks)
    assert(t.stageJob == Map(5 -> 1, 7 -> 2, 8 -> 2))
    val a = t.usage(t.jobsUnder(spans(0)))
    val b = t.usage(t.jobsUnder(spans(1)))
    assert((a.jobs, a.stages, a.tasks, a.cpuS) == ((1, 1, 1, 1.0)))
    assert((b.jobs, b.stages, b.tasks, b.cpuS) == ((1, 2, 3, 8.0)))
    assert(a.shuffleWrite + b.shuffleWrite == 400L)
  }

  test("the driver gap of a span is its time no attributed job covers") {
    val s = Span(1, "build", 0, 0.0, 100.0)
    val jobs = Seq(job(1, 10.0, 40.0, 1), job(2, 30.0, 50.0, 1), job(3, 60.0, 70.0, 1),
      job(4, 75.0, 80.0, -1))
    val t = Trace(Seq(s), jobs, Nil, Nil)
    assert(t.driverGapMs(s) == 45.0) // 10+30 covered by 1+2, 10 by 3, 5 by 4
  }
}
