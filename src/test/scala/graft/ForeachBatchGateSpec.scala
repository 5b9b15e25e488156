package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The streaming-gate harnesses (`RegistryBase.foreachBatchGate` and
  * `runStreamGate`): a foreachBatch gate survives a batch that fails after
  * its sink write and before its offset commit, and no gate leaves its
  * stage or its checkpoint behind.
  */
class ForeachBatchGateSpec extends SparkSpec {

  private def rows(gate: String) =
    SparkEntry.queries(gate)(spark, testDataDir).collect().map(_.toSeq).toSeq

  test("replay: a batch failed after its sink write restarts to the clean answer") {
    // q140 is stateless (one batch); q163 carries its running state from
    // batch=<id - 1>, so its replayed batch 1 must re-read batch 0's state
    // and overwrite its own output and side file
    for ((gate, short, batchId) <- Seq(
        ("q140_stream_contamination", "q140", 0L),
        ("q163_stream_funnel_watermarked", "q163", 1L))) {
      val clean = rows(gate)
      assert(clean.nonEmpty, s"$gate: empty clean answer")
      val replayed = GateReplay.withFailure(short, batchId)(rows(gate))
      if (replayed != clean)
        fail(s"$gate: the replayed run (${replayed.length} rows) differs from the clean " +
          s"run (${clean.length} rows), first at " +
          replayed.zipAll(clean, null, null).find(p => p._1 != p._2).get)
    }
  }

  test("no staging or checkpoint directory outlives a gate run") {
    def children(root: Path): Set[Path] = {
      val ls = Files.list(root)
      try ls.iterator().asScala.toSet finally ls.close()
    }
    val roots = Seq(Staging.root, Staging.fastRoot)
    for (gate <- Seq("q53_events_hourly_stream", "q140_stream_contamination")) {
      val before = roots.map(children)
      rows(gate)
      for ((root, had) <- roots.zip(before)) {
        val left = children(root) -- had
        assert(left.isEmpty, s"$gate left ${left.mkString(", ")} under $root")
      }
    }
  }
}
