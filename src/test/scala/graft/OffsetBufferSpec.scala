package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.OffsetBuffer

/** The offset rule the ingest servers and the fan-out buffers share
  * (OffsetBuffer scaladoc): epoch base, adopt, commit-trim and the
  * capacity wait. */
class OffsetBufferSpec extends AnyFunSuite {

  /** Run `append` on its own thread; the result once it returns. */
  private def appendAsync(b: OffsetBuffer[Int], xs: Int*) = {
    val done = new java.util.concurrent.CompletableFuture[Boolean]()
    val t = new Thread(() => { done.complete(b.append(xs)); () })
    t.setDaemon(true)
    t.start()
    done
  }

  test("offsets start at the wall-clock epoch base; slice reads what is " +
    "held, commit trims it") {
    val before = System.currentTimeMillis() * 1000000L
    val b = new OffsetBuffer[Int](8)
    assert(b.latest >= before)
    val base = b.latest
    assert(b.append(Seq(1, 2, 3)))
    assert(b.latest == base + 3)
    assert(b.slice(base, base + 2).toSeq == Seq(1, 2))
    // a start below the base reads from what is still held
    b.commit(base + 1)
    assert(b.slice(0L, base + 3).toSeq == Seq(2, 3))
    b.commit(base + 3)
    assert(b.isEmpty && b.latest == base + 3)
  }

  test("adopt re-bases to a checkpointed offset ahead of the epoch base " +
    "before the first slice, and never after it") {
    val b = new OffsetBuffer[Int](8)
    b.append(Seq(1, 2))
    val ahead = b.latest + 1000
    b.adopt(ahead - 10)
    b.adopt(ahead) // max of what recovery hands over
    b.adopt(0L)
    assert(b.latest == ahead + 2)
    assert(b.slice(ahead, ahead + 2).toSeq == Seq(1, 2))
    b.adopt(ahead + 500)
    assert(b.latest == ahead + 2, "adopt relabeled items already sliced")
  }

  test("the capacity wait counts only items no batch has sliced: a batch " +
    "that sliced a full buffer leaves room before its lazy commit") {
    val b = new OffsetBuffer[Int](2)
    val base = b.latest
    assert(b.append(Seq(1, 2)))
    val blocked = appendAsync(b, 3)
    Thread.sleep(200)
    assert(!blocked.isDone, "append did not wait on a full backlog")
    // the batch takes everything; its commit waits for the next batch,
    // which needs item 3 to exist
    assert(b.slice(base, b.latest).toSeq == Seq(1, 2))
    assert(blocked.get(10, java.util.concurrent.TimeUnit.SECONDS))
    assert(b.slice(base + 2, b.latest).toSeq == Seq(3))
    b.commit(base + 2)
    assert(b.slice(base, b.latest).toSeq == Seq(3))
  }

  test("an append larger than the capacity goes in once the backlog is " +
    "empty; close ends a wait and refuses later appends") {
    val b = new OffsetBuffer[Int](2)
    assert(b.append(Seq(1, 2, 3, 4)))
    val blocked = appendAsync(b, 5)
    Thread.sleep(200)
    assert(!blocked.isDone)
    b.close()
    assert(!blocked.get(10, java.util.concurrent.TimeUnit.SECONDS))
    assert(!b.append(Seq(6)) && !b.isOpen)
    // a successor reopens it with every item held
    assert(b.reopen(2).isOpen &&
      b.slice(0L, b.latest).toSeq == Seq(1, 2, 3, 4))
  }
}
