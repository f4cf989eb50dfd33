package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (UTC, small shuffle fan-out). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Every Spark job that starts while `body` runs, from any thread. A
    * marker job closes the window: the listener bus delivers in order.
    */
  def jobsDuring(body: => Unit): Seq[SparkSpec.Job] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[Int])]()
    val mapStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val marker = "spec-marker-" + java.util.UUID.randomUUID()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.jobGroup.id").contains(marker)) marked.countDown()
        else seen.add((prop("spark.jobGroup.id").getOrElse(""),
          prop("spark.job.description").getOrElse(""), e.stageIds))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") mapStages.add(e.stageId)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS), "the marker job never arrived")
      seen.asScala.toSeq.map { case (g, d, stages) =>
        SparkSpec.Job(g, d, stages.exists(mapStages.contains)) }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  override protected def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }
}

object SparkSpec {
  /** One Spark job: its group, its description, and whether it ran
    * shuffle map tasks. */
  final case class Job(group: String, desc: String, shuffles: Boolean)
}
