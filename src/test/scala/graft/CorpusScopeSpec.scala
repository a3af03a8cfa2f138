package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CorpusScope

class CorpusScopeSpec extends AnyFunSuite {

  test("build runs once per key; peek sees it without building") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def get() = CorpusScope.cached("spec_once", "k") {
      builds.incrementAndGet(); "artifact"
    }
    assert(CorpusScope.peek[String]("spec_once", "k").isEmpty)
    assert(get() == "artifact" && get() == "artifact")
    assert(builds.get() == 1)
    assert(CorpusScope.peek[String]("spec_once", "k").contains("artifact"))
  }

  test("concurrent same-key callers build once; different keys build in parallel") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 32).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = CorpusScope.cached("spec_conc", s"k${i % 4}") {
            builds.incrementAndGet(); Thread.sleep(5); s"v${i % 4}"
          }
        })
      }
      val vals = tasks.map(_.get())
      assert(builds.get() == 4, s"expected 4 builds, got ${builds.get()}")
      assert(vals.toSet == Set("v0", "v1", "v2", "v3"))
    } finally pool.shutdown()
  }

  test("a build may nest a cached call for a different key in the same family") {
    val v = CorpusScope.cached("spec_nest", "outer") {
      "outer+" + CorpusScope.cached("spec_nest", "inner")("inner")
    }
    assert(v == "outer+inner")
  }

  test("LRU bound holds and an evicted key rebuilds; stats report peak") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    (1 to CorpusScope.MaxPerFamily + 10).foreach { i =>
      CorpusScope.cached("spec_lru", s"k$i") { builds.incrementAndGet(); s"v$i" }
    }
    // k1 was least-recently-used → evicted → rebuilds
    assert(CorpusScope.peek[String]("spec_lru", "k1").isEmpty)
    CorpusScope.cached("spec_lru", "k1") { builds.incrementAndGet(); "v1" }
    assert(builds.get() == CorpusScope.MaxPerFamily + 11)
    val st = CorpusScope.statsString
    assert(st.contains(s"spec_lru=${CorpusScope.MaxPerFamily}/${CorpusScope.MaxPerFamily}"), st)
  }

  test("drop clears one family only") {
    CorpusScope.cached("spec_drop_a", "k")("a")
    CorpusScope.cached("spec_drop_b", "k")("b")
    CorpusScope.drop("spec_drop_a")
    assert(CorpusScope.peek[String]("spec_drop_a", "k").isEmpty)
    assert(CorpusScope.peek[String]("spec_drop_b", "k").contains("b"))
  }

  test("statsString: every token is name=<current>/<peak> with integers") {
    // perfbench's scopeResident sums the current counts it parses from
    // here; initialising the operator objects brings in anything they
    // register at load time
    assert(graft.ops.Dedup.queries.nonEmpty && graft.ops.Text.queries.nonEmpty)
    CorpusScope.cached("spec_fmt", "k")("v")
    val st = CorpusScope.statsString
    st.split(" ").foreach(kv => assert(kv.matches("""[^=\s]+=\d+/\d+"""), st))
    assert(st.contains("spec_fmt=1/1"), st)
  }
}
