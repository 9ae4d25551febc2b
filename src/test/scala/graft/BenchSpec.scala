package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("CPU canary returns a positive, finite wall time") {
    val s = Bench.canarySeconds(threads = 2, iters = 1000000)
    assert(s > 0 && s.isFinite, s"canary read $s s")
  }

  test("memory canary refuses more threads than it has buffers for") {
    // the guard runs before the 1 GiB buffers are allocated
    intercept[IllegalArgumentException] {
      Bench.memCanarySeconds(threads = Bench.MemCanaryThreads + 1, passes = 1)
    }
  }
}
