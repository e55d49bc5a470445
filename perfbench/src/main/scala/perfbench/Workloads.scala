package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark's workloads. Why each exists is recorded in
  * `BENCHMARK.json`; the catalog query lists and their expected row counts
  * are frozen in `catalog.json`.
  */
object Workloads {
  /** Data lines per ETL input, about 13.4 MB. Spark splits a text scan
    * into pieces of at least its 4 MB open cost, so below about 12 MB a job
    * gets three splits and one of local[4]'s cores idles; this size gives
    * four. A unit takes about three seconds.
    */
  val EtlLines = 130000

  /** The workloads `BENCHMARK.json` lists. */
  val Names = Seq("etl_clean", "catalog")

  def make(name: String, work: File, seed: Long, dataDir: String,
           catalogFile: File): Workload = name match {
    case "etl_clean" =>
      // One file, the reference's published error rate of about 0.1%.
      new EtlWorkload(work, seed, EtlShape(EtlLines, files = 1, errorShare = 0.001,
        quotedSemicolons = false))
    case "catalog" =>
      // The catalog runs on fixed data in a fixed order: the seed is unused.
      new CatalogWorkload(dataDir,
        catalog(catalogFile, "short") ++ catalog(catalogFile, "iterative"))
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  /** One frozen (query, expected row count) list of `catalog.json`. */
  def catalog(file: File, list: String): Seq[(String, Long)] = {
    val node = new ObjectMapper().readTree(file).get(list)
    require(node != null, s"$file has no list '$list'")
    node.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toSeq
  }
}
