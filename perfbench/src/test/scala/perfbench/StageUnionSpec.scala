package perfbench

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

class StageUnionSpec extends AnyFunSuite {

  test("union merges overlapping, nested and touching intervals and skips empty ones") {
    assert(Intervals.unionLength(Seq.empty) == 0)
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25)
    assert(Intervals.unionLength(Seq((30L, 40L), (0L, 10L), (10L, 20L))) == 30)
    assert(Intervals.unionLength(Seq((5L, 5L), (9L, 3L), (1L, 2L))) == 1)
  }

  test("a query's stage time is the union of its overlapping stage events, not their sum") {
    def stage(id: Int, start: Long, end: Long): StageInfo = {
      val s = new StageInfo(id, 0, s"stage$id", 1, Seq.empty, Seq.empty, "", null, Seq.empty, None, 0)
      s.submissionTime = Some(start)
      s.completionTime = Some(end)
      s
    }
    // a broadcast build (2) and a second stage (3) overlap stage 1; stage 4 runs alone
    val stages = Seq(stage(1, 1000, 3000), stage(2, 2000, 2500), stage(3, 2800, 4000), stage(4, 6000, 7000))
    val props = new Properties()
    props.setProperty(Props.Query, "q")
    val listener = new LayerListener(new AtomicLong())
    listener.onJobStart(SparkListenerJobStart(0, 1000L, stages, props))
    stages.foreach(s => listener.onStageCompleted(SparkListenerStageCompleted(s)))

    val c = listener.take("q")
    assert(c.jobs == 1 && c.stages == 4)
    assert(c.stageUnionS == 4.0)
    assert(c.stageIntervalsMs.map { case (s, e) => e - s }.sum == 4700)
    assert(listener.allSpans.count(_.name.startsWith("stage ")) == 4)
  }
}
