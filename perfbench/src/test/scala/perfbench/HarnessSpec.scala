package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness: run with `sbt test` in `perfbench/`. */
class HarnessSpec extends AnyFunSuite {

  private val off = new Trace(false, null)

  test("an op that throws is recorded as failed, never as a success") {
    val r = Op[Int]("boom", () => throw new IllegalStateException("x"),
      _ => Done(1L, 1L, None)).exec(7L, off)
    assert(!r.ok)
    assert(r.err.exists(_.startsWith("java.lang.IllegalStateException")))
    assert(r.rowsOut == 0L)
  }

  test("an op whose output mismatches the prediction is failed") {
    val r = Op[Int]("wrong", () => 3, n => Done(0L, n.toLong,
      Option.when(n != 4)(s"got $n, predicted 4"))).exec(0L, off)
    assert(!r.ok && r.err.contains("got 3, predicted 4"))
  }

  test("the closed loop keeps throwing ops in its records") {
    val res = Loop.closed(2, 0.2, off)(i =>
      if (i % 2 == 0) Op[Long]("ok", () => i, _ => Done(0L, 0L, None))
      else Op[Long]("bad", () => sys.error("bad"), _ => Done(0L, 0L, None)))
    assert(res.records.nonEmpty)
    assert(res.records.map(_.id) == res.records.indices.map(_.toLong))
    assert(res.records.forall(r => r.ok == (r.id % 2 == 0)))
  }

  test("the loop can end on a fixed kind") {
    val res = Loop.closed(1, 0.05, off, _ % 2 == 1)(i =>
      Op[Long]("k", () => { Thread.sleep(5); i }, _ => Done(0L, 0L, None)))
    assert(res.records.size % 2 == 1)
  }

  /** Kind counts over `n` ops, and the ops themselves, for two seeds. */
  private def mix[A](n: Int)(kind: A => String)(at: (Long, Long) => A) = {
    val a = (0L until n).map(at(1L, _))
    val b = (0L until n).map(at(2L, _))
    (a.groupBy(kind).view.mapValues(_.size).toMap,
      b.groupBy(kind).view.mapValues(_.size).toMap, a, b)
  }

  test("the seed changes the inputs but not the shares of the op mix") {
    val (ia, ib, iOps, iOps2) =
      mix(400)((s: IngestBatch.Spec) => s.kind)((seed, i) =>
        IngestBatch.spec(seed, Rng.Timed, i))
    assert(ia == ib && ia("vpc_dump") == 100 && ia("trail_where") == 50)
    assert(iOps != iOps2)

    val (qa, qb, qOps, qOps2) =
      mix(400)((q: InteractiveQuery.Request) => q.kind)((seed, i) =>
        InteractiveQuery.request(seed, Rng.Timed, i))
    assert(qa == qb && qOps.count(_.refused) == 60)
    assert(qOps.map(_.sql) != qOps2.map(_.sql))

    val (aa, ab, aOps, aOps2) =
      mix(400)((s: AnnDedup.Spec) => s.kind)((seed, i) =>
        AnnDedup.spec(seed, Rng.Timed, i))
    assert(aa == ab && aa("ann_search") == 200)
    assert(aOps.map(_.queries) != aOps2.map(_.queries))

    assert(InteractiveQuery.Tables(1L).price(5L) !=
      InteractiveQuery.Tables(2L).price(5L))
    assert(AnnDedup.documents(1L).toSeq != AnnDedup.documents(2L).toSeq)
  }

  test("warm-up ops come from their own stream") {
    val timed = (0L until 50).map(IngestBatch.spec(3L, Rng.Timed, _))
    val warm = (0L until 50).map(IngestBatch.spec(3L, Rng.Warmup, _))
    assert(timed.map(_.kind) == warm.map(_.kind) && timed != warm)
  }

  test("layer coverage merges overlapping intervals") {
    assert(Layers.covered(Seq((0.0, 4.0), (2.0, 6.0), (8.0, 9.0)),
      1.0, 10.0) == 6.0)
    val spans = Seq(Span(1, "op", 0, 10, 0, 0), Span(2, "child", 2, 5, 1, 0))
    assert(Layers.selfMs(spans) == Map("op" -> 7.0, "child" -> 3.0))
  }
}
