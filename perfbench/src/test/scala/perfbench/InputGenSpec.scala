package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.BankingPipeline

class InputGenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root = new File("target/test-work/inputgen")
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(root, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
    .getOrCreate()

  private val clean = EtlShape(3000, files = 1, errorShare = 0.01, quotedSemicolons = false)
  private val dirty = EtlShape(3000, files = 4, errorShare = 0.35, quotedSemicolons = true)

  override def beforeAll(): Unit = {
    Workload.deleteRecursively(root)
    root.mkdirs()
  }

  override def afterAll(): Unit = spark.stop()

  private def gen(name: String, seed: Long, shape: EtlShape): (File, EtlManifest) = {
    val dir = new File(root, name)
    (dir, InputGen.etl(dir, seed, shape))
  }

  private def bytes(dir: File): Seq[(String, Seq[Byte])] =
    dir.listFiles.toSeq.sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  test("the same seed gives byte-identical files; another seed does not") {
    val (a, ma) = gen("a", 7, dirty)
    val (b, mb) = gen("b", 7, dirty)
    val (c, _) = gen("c", 8, dirty)
    assert(bytes(a) == bytes(b))
    assert(ma == mb)
    assert(bytes(a) != bytes(c))
  }

  test("every file opens with the quoted UCI header, no BOM, LF line ends") {
    val (dir, m) = gen("shape", 3, dirty)
    val files = dir.listFiles.toSeq
    assert(files.size == m.files)
    assert(files.map(_.length).sum == m.bytes)
    files.foreach { f =>
      val b = Files.readAllBytes(f.toPath)
      assert(!b.contains('\r'.toByte))
      val text = new String(b, "US-ASCII")
      assert(text.startsWith(InputGen.Header + "\n"))
      assert(text.endsWith("\n"))
    }
    assert(InputGen.Header.startsWith("\"age\";\"job\";"))
  }

  for ((label, shape) <- Seq("clean" -> clean, "dirty" -> dirty)) {
    test(s"the $label manifest matches BankingPipeline.fromLines exactly") {
      val (dir, m) = gen(s"pipeline-$label", 11, shape)
      val res = BankingPipeline.fromLines(BankingPipeline.readCsvLines(spark, dir.getPath))
      val errors = res.errors.groupBy("error_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(res.processed.count() == m.processed)
      assert(errors == m.errorsByType.filter(_._2 > 0))
      assert(m.processed + m.errorsByType.values.sum == m.dataLines)
      if (shape == dirty) {
        assert(m.errorsByType.values.forall(_ > 0), "every error kind occurs")
        assert(res.processed.where("job like '%;%'").count() > 0,
          "quoted semicolons reach the processed table intact")
      }
    }
  }
}
