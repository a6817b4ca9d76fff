package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.core.Artifact
import graft.core.Artifact.Layout

/** The artifact registry's two contracts beyond reuse: a layout-keeping
  * build never writes the shared session's conf (the serving session runs
  * HTTP queries concurrently with builds), and the persisted tier never
  * serves an artifact built over different data at the same path.
  */
class ArtifactSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("concurrent layout-keeping builds never disable AQE on the shared session") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val run = java.util.UUID.randomUUID().toString
    val done = new AtomicBoolean(false)
    val samples = new AtomicLong()
    val disabled = new AtomicLong()
    val sampler = new Thread(() =>
      while (!done.get()) {
        if (spark.conf.get("spark.sql.adaptive.enabled") != "true") disabled.incrementAndGet()
        samples.incrementAndGet()
        Thread.onSpinWait()
      })
    sampler.start()
    val pool = Executors.newFixedThreadPool(4)
    val built = try {
      (0 until 8).map { i =>
        pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            val keyed = Artifact.build(spark, s"test.keyed|$run|$i", Layout.Hashed(1, "k"))(
              spark.range(0, 40000, 1, 4).select((col("id") % 97).as("k"), col("id")))
            Artifact.build(spark, s"test.perkey|$run|$i", Layout.KeepHash)(
              keyed.groupBy(col("k")).agg(count(lit(1)).as("n")))
            keyed
          }
        })
      }.map(_.get(5, TimeUnit.MINUTES))
    } finally {
      done.set(true)
      sampler.join()
      pool.shutdown()
    }
    assert(samples.get() > 0)
    assert(disabled.get() == 0,
      s"${disabled.get()} of ${samples.get()} samples saw AQE disabled during builds")
    // the layout is still recorded: a keyed consumer plans no exchange
    val consumer = built.head.groupBy(col("k")).agg(sum(col("id")).as("s"))
    consumer.count()
    val plan = consumer.queryExecution.executedPlan
    val scans = collect(plan) { case s: RDDScanExec => s.outputPartitioning.toString }
    assert(scans.nonEmpty && scans.forall(_.startsWith("hashpartitioning(k#")),
      s"$scans\n$plan")
    assert(!plan.toString.contains("Exchange hashpartitioning"), plan.toString)
  }

  test("a dataset regenerated at the same path invalidates its persisted artifact") {
    def writeFixture(dir: String, seed: Int): Unit =
      spark.range(0, 64, 1, 1).select(col("id").as("vec_id"),
          array((0 until 64).map(j => sin(col("id") * (j + 1) + lit(seed)).cast("float")): _*)
            .as("embedding"),
          (col("id") % 3).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def codebook(dir: String): Seq[String] =
      graft.ann.Ann.ivfCodebook(spark, dir, nCentroids = 4, trainIters = 2)
        .orderBy("c_id").collect().map(_.toString).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-artifact-").toString
    val dir = s"$root/data"
    writeFixture(dir, seed = 1)
    val stale = codebook(dir) // trained and written to the persisted tier
    writeFixture(dir, seed = 2)
    Artifact.forget(spark, dir) // a new session: nothing in memory
    val rebuilt = codebook(dir)
    writeFixture(s"$root/fresh", seed = 2)
    val fresh = codebook(s"$root/fresh")
    assert(rebuilt != stale, "the regenerated dataset served the stale persisted codebook")
    assert(rebuilt == fresh)
  }
}
