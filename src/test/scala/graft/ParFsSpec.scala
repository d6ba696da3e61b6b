package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ParFs

/** Driver-side FS fan-out: every operation is submitted before any is
  * awaited, and a failure never cuts the list short. */
class ParFsSpec extends AnyFunSuite {

  test("a lazy input still runs its operations concurrently") {
    val n = 4
    val started = new CountDownLatch(n)
    // each operation waits until all n have started: a pool fed one
    // task at a time would time out on the first
    val ops = LazyList.range(0, n)
    val out = ParFs(ops) { i =>
      started.countDown()
      started.await(10, TimeUnit.SECONDS)
    }
    assert(out == Seq.fill(n)(true))
  }

  test("a failure mid-list still runs the remaining operations and rethrows the first cause") {
    val ran = ConcurrentHashMap.newKeySet[Int]()
    val err = intercept[IllegalStateException] {
      ParFs(0 until 8) { i =>
        if (i == 3 || i == 5) throw new IllegalStateException(s"op $i failed")
        Thread.sleep(20)
        ran.add(i)
      }
    }
    assert(err.getMessage == "op 3 failed")
    assert(ran.size == 6 && !ran.contains(3) && !ran.contains(5))
  }
}
