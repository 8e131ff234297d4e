package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.resp.{RespCodec, RespValue}

class GenSpec extends AnyFunSuite {
  private val w = Workload.all("lookup-mix")

  test("the same seed gives the same inputs") {
    val (a, b) = (new Gen(w, 7), new Gen(w, 7))
    assert(a.keys == b.keys)
    assert(a.hashKeys == b.hashKeys)
    assert(a.writeSet == b.writeSet)
    assert(a.lookupLists(100, 3, "mget") == b.lookupLists(100, 3, "mget"))
    assert(a.pointKeys(10) == b.pointKeys(10))
    assert((0 until 5).map(a.streamOrder) == (0 until 5).map(b.streamOrder))
    assert(a.keys.take(50).map(a.valueOf(_, 3)) == b.keys.take(50).map(b.valueOf(_, 3)))
  }

  test("another seed gives other keys and another query order") {
    val (a, b) = (new Gen(w, 7), new Gen(w, 8))
    assert(a.keys.toSet.intersect(b.keys.toSet).isEmpty)
    assert((0 until 5).map(a.streamOrder) != (0 until 5).map(b.streamOrder))
  }

  test("keys are distinct, prefixed and 10 base62 characters long") {
    val g = new Gen(w, 1)
    assert(g.keys.length == w.strings && g.keys.distinct.length == w.strings)
    assert(g.keys.forall(_.matches("u:[0-9A-Za-z]{10}")))
    assert(g.hashKeys.length == w.hashes && g.hashKeys.forall(_.startsWith("h:")))
  }

  test("lookup lists hold 10% keys that are not in the keyspace") {
    val g = new Gen(w, 1)
    val keys = g.keys.toSet
    g.lookupLists(1000, 3, "mget").foreach { l =>
      assert(l.length == 1000)
      assert(l.count(k => !keys(k)) == 100)
    }
  }

  test("value lengths stay in the workload's range and the stream keeps its kinds") {
    Workload.all.values.foreach { wl =>
      val g = new Gen(wl, 3)
      g.keys.take(200).foreach { k =>
        val v = g.valueOf(k, 1)
        assert(v.length >= wl.minLen && v.length <= wl.maxLen, s"${wl.name}: ${v.length}")
      }
      assert(g.streamOrder(0).sorted == wl.stream.sorted)
      assert((wl.stream ++ wl.side).toSet == Workload.Kinds.toSet -- wl.traceOnly)
    }
  }

  test("FrameCounter counts whole frames however the bytes are split") {
    val frames = Seq[RespValue](
      RespValue.Arr(Vector(RespValue.Bulk("SET"), RespValue.Bulk("k"), RespValue.Bulk("v" * 5000))),
      RespValue.Simple("OK"), RespValue.Null, RespValue.Arr(Vector.empty),
      RespValue.Mp(Vector(RespValue.Bulk("a") -> RespValue.Int64(1))),
      RespValue.Arr(Vector(RespValue.Arr(Vector(RespValue.Bulk("x"))), RespValue.Null)))
    val bytes = frames.map(RespCodec.encode).reduce(_ ++ _)
    Seq(1, 7, 1460, bytes.length).foreach { step =>
      val c = new FrameCounter
      bytes.grouped(step).foreach(ch => c.feed(ch, 0, ch.length))
      assert(c.frames == frames.length, s"step $step")
      assert(!c.midFrame)
    }
    val c = new FrameCounter
    c.feed(bytes, 0, 10)
    assert(c.frames == 0 && c.midFrame)
  }

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(1, "bench.scan", 0, 0, 100),
      Span(2, "queries.scan", 1, 10, 90),
      Span(3, "job.run", 2, 20, 50),
      Span(4, "job.run", 2, 40, 60), // overlaps its sibling
      Span(5, "stage.run", 3, 20, 50))
    val self = Tracer.selfTime(spans)
    assert(self("bench") == 20)
    assert(self("queries") == 40)
    assert(self("job") == 20) // job 3 fully covered by its stage; job 4 has no children
    assert(self("stage") == 30)
  }
}
