package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.streaming.{ChunkSizer, Manifest}

/** ScalaCheck properties (SURVEY §5): invariants that must hold for ALL
  * inputs, complementing the example-based specs. Runs under sbt's native
  * ScalaCheck support. */
object ChunkSizerProps extends Properties("ChunkSizer") {

  private val sizes = Gen.choose(1, 1 << 20)
  private val times = Gen.choose(0.0, 100.0)

  property("chunksize always >= 1") = forAll(sizes, times) { (s, t) =>
    ChunkSizer(s).observe(t).chunksize >= 1
  }

  property("back-off never increases size; ramp never decreases it") =
    forAll(sizes, times) { (s, t) =>
      val next = ChunkSizer(s).observe(t).chunksize
      if (t > 1.1) next <= s else next >= s
    }

  property("failure path is 10 then 1 then exhausted, regardless of size") =
    forAll(sizes) { s =>
      val f1 = ChunkSizer(s).onFailure
      val f2 = f1.onFailure
      val f3 = f2.onFailure
      f1.chunksize == 10 && f2.chunksize == 1 && !f2.exhausted && f3.exhausted
    }

  property("observe is frozen while retrying") = forAll(sizes, times) { (s, t) =>
    ChunkSizer(s).onFailure.observe(t).chunksize == 10
  }
}

object ManifestProps extends Properties("Manifest") {

  private val key = Gen.nonEmptyListOf(Gen.asciiPrintableChar).map(_.mkString.take(64))
  private val entries = Gen.mapOf(Gen.zip(key, Gen.choose(Long.MinValue, Long.MaxValue)))

  property("save/load round-trips any table-name → watermark map") =
    forAll(entries) { m =>
      val dir = java.nio.file.Files.createTempDirectory("mprop")
      val path = s"$dir/m.json"
      val man = Manifest(m)
      man.save(path)
      Manifest.load(path) == man
    }

  property("a plan entry is pending iff it is not completed") =
    forAll(entries, Gen.listOf(key)) { (m, plan) =>
      val man = Manifest(m)
      val p = man.pending(plan).toSet
      plan.forall(t => p.contains(t) == !man.isCompleted(t))
    }
}
