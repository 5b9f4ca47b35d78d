package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.index.ScalarIndex

/** The scalar index's APPENDS change counter publishes atomically: a
  * reader polling it while a writer bumps it sees either the old count
  * or the new one — never a torn (empty) file that fails to parse. */
class AppendsCounterSpec extends AnyFunSuite {

  test("appendCount never sees a torn counter while bumpAppends runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-appends").toString
    val done = new AtomicBoolean(false)
    @volatile var failure: Option[Throwable] = None
    @volatile var polls = 0
    @volatile var lastSeen = 0
    val reader = new Thread(() => {
      while (!done.get()) {
        try {
          val n = ScalarIndex.appendCount(dir)
          if (n < lastSeen) throw new AssertionError(s"count went back: $lastSeen -> $n")
          lastSeen = n
          polls += 1
        } catch { case t: Throwable => failure = Some(t); done.set(true) }
      }
    })
    reader.start()
    try (1 to 500).foreach(i => assert(ScalarIndex.bumpAppends(dir) == i))
    finally { done.set(true); reader.join() }
    failure.foreach(t => fail(s"appendCount failed after $polls polls", t))
    assert(polls > 0)
    assert(ScalarIndex.appendCount(dir) == 500)
    TestDirs.deleteRec(java.nio.file.Paths.get(dir))
  }
}
