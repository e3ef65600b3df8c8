package graft

import graft.sources.LayerStore
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Crash and re-run of the gold layer: a silver input that goes bad
  * mid-build fails `runGold` with the error recorded, and once the
  * input is restored a re-run of the same run converges on the gold
  * tables of a clean run, leaving no staging or backup directory
  * behind. */
class GoldRerunSpec extends SparkSpec {

  private val goldTables = Seq("monthly_sales", "inventory_health",
    "supplier_monthly", "dashboard", "forecasts", "forecast_metrics",
    "model_selection")

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.iterator.asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally paths.close()
  }

  private def allPaths(root: Path): Seq[Path] = {
    val paths = Files.walk(root)
    try paths.iterator.asScala.toList finally paths.close()
  }

  private def goldHashes(store: LayerStore): Map[String, String] =
    goldTables.map { t =>
      val df = store.table("gold", t)
      t -> Bench.frameHash(if (df.columns.contains("run_id")) df.drop("run_id") else df)
    }.toMap

  test("a failed gold build records the error and its re-run converges to a clean run") {
    val root = Files.createTempDirectory("gold_rerun")
    val store = new LayerStore(spark, root.toString)
    val runId = "rerun"
    assert(Pipeline.runBronze(spark, store, sf0001).ok)
    assert(Pipeline.runSilver(spark, store, runId).ok)

    val cleanRoot = Files.createTempDirectory("gold_clean").resolve("store")
    copyTree(root, cleanRoot)
    val clean = new LayerStore(spark, cleanRoot.toString)
    assert(Pipeline.runGold(spark, clean, runId).ok)
    val expected = goldHashes(clean)

    // silver.supplier first feeds inventory_health, the second gold
    // table, so the failure lands after monthly_sales was rewritten
    val victim = allPaths(root.resolve("silver/supplier"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .filterNot(_.getFileName.toString.startsWith(".")).max
    val original = Files.readAllBytes(victim)
    Files.write(victim, Array.fill[Byte](original.length)(0x5a.toByte))
    val failed = Pipeline.runGold(spark, store, runId)
    assert(!failed.ok)
    assert(failed.error.exists(_.nonEmpty), "a failed gold layer must carry its error")

    Files.write(victim, original)
    val rerun = Pipeline.runGold(spark, store, runId)
    assert(rerun.ok, s"re-run failed: ${rerun.error}")
    assert(goldHashes(store) == expected)
    val leftovers = allPaths(root).map(_.toString)
      .filter(p => p.contains(".__staging__") || p.contains(".__bak__"))
    assert(leftovers.isEmpty, s"staging/backup left behind: ${leftovers.mkString(", ")}")
  }
}
