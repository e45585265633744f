package graft

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Sessions.inParallel failure semantics: no thunk outlives the call. */
class SessionsSpec extends AnyFunSuite {

  test("inParallel returns results in input order") {
    assert(Sessions.inParallel(() => { Thread.sleep(50); 1 }, () => 2, () => 3) === Seq(1, 2, 3))
  }

  test("inParallel rethrows a failure only after every sibling has finished") {
    val finished = new AtomicInteger(0)
    def slow(ms: Long): () => Long = () => { Thread.sleep(ms); finished.incrementAndGet(); ms }
    val first = new IllegalStateException("first")
    val later = new IllegalArgumentException("later")
    val e = intercept[IllegalStateException](Sessions.inParallel[Long](
      () => throw first, slow(300), () => { Thread.sleep(100); throw later }, slow(500)))
    assert(e eq first)
    assert(finished.get === 2, "a sibling was still running when inParallel threw")
    assert(e.getSuppressed.toSeq === Seq(later))
  }
}
