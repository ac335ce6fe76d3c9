package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.broadcast
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PlanBroadcastsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a final plan drained through toRdd reports its broadcast join once") {
    val big = spark.range(1000).toDF("id")
    val small = spark.range(10).toDF("id")
    val qe = big.join(broadcast(small), "id").queryExecution
    qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())

    val c = new Counters
    PlanBroadcasts.addTo(c, qe.executedPlan)
    assert(c.broadcasts == 1)
    assert(c.broadcastBytes > 0)
  }

  test("a plan without a broadcast adds nothing") {
    val qe = spark.range(100).filter("id % 2 = 0").queryExecution
    qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())

    val c = new Counters
    PlanBroadcasts.addTo(c, qe.executedPlan)
    assert(c.broadcasts == 0 && c.broadcastBytes == 0 && c.broadcastMs == 0)
  }
}
