package perfbench

import java.nio.file.{Files => JFiles, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = JFiles.createTempDirectory("perfbench").toString + "/t"

  /** The data files of a written table, in part order, as bytes. */
  private def partBytes(dir: String): Seq[Seq[Byte]] = {
    val s = JFiles.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .toSeq.sortBy(_.split("-")(1)).map(n => JFiles.readAllBytes(Paths.get(dir, n)).toSeq)
    finally s.close()
  }

  private def pagesTable(seed: Long): Seq[Seq[Byte]] = {
    val dir = tmp()
    Gen.write(spark, Gen.dupPages(seed, 60, 500).pages, Gen.PageSchema, dir, 3)
    partBytes(dir)
  }

  test("the same seed writes byte-identical pages tables; another seed differs") {
    val a = pagesTable(7)
    assert(a.size == 3)
    assert(a == pagesTable(7))
    assert(a != pagesTable(8))
  }

  test("the ingest_dup ground truth covers every page and counts its duplicates") {
    val spec = Gen.dupPages(3, 200, 500)
    assert(spec.truth.keySet == spec.pages.map(_.getString(0)).toSet)
    val clusters = spec.truth.values.groupBy(_.cluster).values.map(_.size)
    assert(clusters.map(_ - 1).sum == spec.droppable)
    assert(spec.truth.values.filter(_.cluster >= 0).forall(t => t.source.nonEmpty))
    assert(spec.truth.values.map(_.kind).toSet == Set("", "exact", "case", "fm", "typo"))
  }

  test("percentiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 85) - 4.4) < 1e-12)
    assert(Stats.percentile(Seq(5.0), 85) == 5.0)
    assert(Stats.percentile(Seq(1.0, 9.0), 0) == 1.0)
    assert(Stats.percentile(Seq(1.0, 9.0), 100) == 9.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("every named metric in BENCHMARK.json has a unit and a layer mapping") {
    val mapper = new ObjectMapper()
    val bench = mapper.readTree(Paths.get("..", "BENCHMARK.json").toFile)
    val e2e = bench.get("end_to_end").elements().asScala.toSeq
    assert(e2e.map(m => m.get("name").asText -> m.get("unit").asText) == Main.EndToEnd)

    val perLayer = bench.get("per_layer").elements().asScala.toSeq
    assert(perLayer.map(_.get("name").asText) == Layers.all.map(_.name))
    assert(perLayer.map(_.get("unit").asText) == Layers.all.map(_.unit))
    assert(perLayer.map(_.get("better").asText) == Layers.all.map(_.better))

    val layersFile = Paths.get("layers.json")
    assert(new String(JFiles.readAllBytes(layersFile), "UTF-8") == Layers.json,
      "layers.json is stale: regenerate it with perfbench.Main --layers")
    val workloads = bench.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    mapper.readTree(layersFile.toFile).elements().asScala.foreach { m =>
      assert(m.get("layer").asText.nonEmpty && m.get("unit").asText.nonEmpty)
      assert(m.get("moves").elements().asScala.forall(x => Main.EndToEnd.exists(_._1 == x.asText)))
      assert(workloads.contains(m.get("workload").asText))
    }
  }
}
