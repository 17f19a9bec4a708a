package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The bench summary and the shared JSON writer: the compact line and the
  * detail sidecar are byte-identical to the hand-concatenated output the
  * summary had before it moved onto [[Json]] (expected strings produced by
  * that code on the same fixed input), and every emitted string parses
  * back. */
class BenchJsonSpec extends AnyFunSuite {

  private val multijvmText =
    """{
      |  "recorded_utc": "2026-08-18T23:25:00Z",
      |  "protocol": "local-cluster 2x2 -> 8x2 (fresh JVMs)",
      |  "input_urls": 64000000,
      |  "calibration_fixed_sec_2x2": 19.70,
      |  "calm_pair_marks_2x2": "18.25/14.90",
      |  "eff_raw": 0.545,
      |  "eff_corrected": 0.573,
      |  "calm_pair_eff_raw": 0.567,
      |  "calm_pair_eff_corrected": 0.597
      |}""".stripMargin

  private val sweeps = Seq(Map(2 -> 50000.4, 8 -> 180000.6, 32 -> 420000.5),
    Map(2 -> 52000.0, 8 -> 175000.25, 32 -> 430001.0),
    Map(2 -> 51000.0, 8 -> 181000.0))
  private val levels = Seq(2, 8, 32)
  private val measured = Bench.Measured(
    sfDir = "/data/sf0.1",
    readSamples = Seq(
      "c01_crawl_summary" -> Seq(0.51234, 0.4987),
      "q01_pricing_summary" -> Seq(1.2049, 1.3),
      "q40_curation_pipeline" -> Seq(2.0, 2.004999),
      "q70_best_passage" -> Seq(0.005, 0.0149)),
    levels = levels,
    sweeps = sweeps,
    samples = levels.map(c => c -> sweeps.flatMap(_.get(c))).toMap,
    sweepMarks = Seq(4.56, 9.04, 12.35),
    calmGbps = 9.0,
    multijvm = Bench.readMultijvm(multijvmText),
    spinThreads = 8, spin1 = 1.23e9, spinN = 9.5e9, mem1 = 1.5e10, memN = 6.0e10)

  private val expectedLine =
    """{"metric":"total","value":3.7,"unit":"sec","queries":{"c01":0.5,"q01":1.2,"q40":2,""" +
    """"q70":0.01,"crawl_urls_per_sec_local2":52000,"crawl_urls_per_sec_local8":181000,""" +
    """"crawl_urls_per_sec_local32":430001,"crawl_scaling_efficiency_2_8":0.87,""" +
    """"crawl_scaling_efficiency_8_32":0.594,"crawl_scaling_efficiency":0.594,""" +
    """"crawl_scaling_efficiency_evidence_2_8":0.87,"membw_gbps_sweep1":4.6,""" +
    """"membw_gbps_sweep2":9,"membw_gbps_sweep3":12.4,"calm_window_found":1,""" +
    """"membw_gbps_headline_sweep":9,"multijvm_recorded_utc":"2026-08-18T23:25:00Z",""" +
    """"multijvm_eff_raw":0.545,"multijvm_eff_corrected":0.573,""" +
    """"multijvm_calm_pair_eff_raw":0.567,"multijvm_calm_pair_eff_corrected":0.597},""" +
    """"sf":"sf0.1"}"""

  private val expectedDetail =
    """{"sf":"/data/sf0.1","total_sec":3.709,"detail":{"c01_crawl_summary":0.4987,""" +
    """"q01_pricing_summary":1.2049,"q40_curation_pipeline":2,"q70_best_passage":0.005,""" +
    """"c01_crawl_summary_r1":0.5123,"c01_crawl_summary_r2":0.4987,""" +
    """"q01_pricing_summary_r1":1.2049,"q01_pricing_summary_r2":1.3,""" +
    """"q40_curation_pipeline_r1":2,"q40_curation_pipeline_r2":2.005,""" +
    """"q70_best_passage_r1":0.005,"q70_best_passage_r2":0.0149,""" +
    """"crawl_urls_per_sec_local2":52000,"crawl_urls_per_sec_local8":181000,""" +
    """"crawl_urls_per_sec_local32":430001,"crawl_urls_per_sec_local2_r1":50000.4,""" +
    """"crawl_urls_per_sec_local2_r2":52000,"crawl_urls_per_sec_local2_r3":51000,""" +
    """"crawl_urls_per_sec_local8_r1":180000.6,"crawl_urls_per_sec_local8_r2":175000.3,""" +
    """"crawl_urls_per_sec_local8_r3":181000,"crawl_urls_per_sec_local32_r1":420000.5,""" +
    """"crawl_urls_per_sec_local32_r2":430001,"crawl_scaling_efficiency_2_8":0.8702,""" +
    """"crawl_scaling_efficiency_8_32":0.5939,"sweep1_eff_2_8":0.9,""" +
    """"sweep1_eff_8_32":0.5833,"sweep2_eff_2_8":0.8413,"sweep2_eff_8_32":0.6143,""" +
    """"sweep3_eff_2_8":0.8873,"membw_gbps_1t_sweep1":4.56,"membw_gbps_1t_sweep2":9.04,""" +
    """"membw_gbps_1t_sweep3":12.35,"headline_sweep":1,""" +
    """"multijvm_recorded_utc":"2026-08-18T23:25:00Z",""" +
    """"multijvm_protocol":"local-cluster 2x2 -> 8x2 (fresh JVMs)",""" +
    """"multijvm_input_urls":64000000,"multijvm_calibration_fixed_sec_2x2":19.70,""" +
    """"multijvm_calm_pair_marks_2x2":"18.25/14.90","multijvm_eff_raw":0.545,""" +
    """"multijvm_eff_corrected":0.573,"multijvm_calm_pair_eff_raw":0.567,""" +
    """"multijvm_calm_pair_eff_corrected":0.597,"calm_gbps_threshold":9,""" +
    """"spin_giters_1t":1.23,"spin_ratio_8t":7.7236,"membw_gbps_1t":15,"membw_ratio_8t":4}}"""

  test("compact line and detail sidecar are byte-identical to the pre-Jackson summary") {
    val (line, detail) = Bench.summarize(measured)
    assert(line == expectedLine)
    assert(detail == expectedDetail)
  }

  test("every emitted string parses back with Jackson") {
    val (line, detail) = Bench.summarize(measured)
    val l = Json.parse(line)
    assert(l.get("metric").asText == "total" && l.get("value").decimalValue.toPlainString == "3.7")
    assert(l.get("queries").get("q40").isNumber)
    assert(l.get("queries").get("multijvm_recorded_utc").asText == "2026-08-18T23:25:00Z")
    val d = Json.parse(detail)
    assert(d.get("detail").get("multijvm_calibration_fixed_sec_2x2").decimalValue.toPlainString == "19.70")
    assert(d.get("detail").get("multijvm_protocol").asText == "local-cluster 2x2 -> 8x2 (fresh JVMs)")
    // a non-finite measurement is null, never bare NaN text
    val (nanLine, _) = Bench.summarize(measured.copy(sweepMarks = Seq(Double.NaN, 9.04, 12.35)))
    assert(Json.parse(nanLine).get("queries").get("membw_gbps_sweep1").isNull)
    // BenchExtra's shape: per-entry %.4f seconds + a %.3f total
    val extra = Json.write(Seq("q01_pricing_summary" -> new java.math.BigDecimal("1.2000"),
      "_total" -> new java.math.BigDecimal("1.200")))
    assert(extra == """{"q01_pricing_summary":1.2000,"_total":1.200}""")
    assert(Json.parse(extra).get("_total").isNumber)
  }

  test("oracle_sql.json round-trips every oracle and hostile strings") {
    val hostile = Seq("quote\"back\\slash" -> "tab\tcr\rnl\n\u0001\u001f", "ümlaut" -> "é 😀 /")
    val all = SparkEntry.oracleSql.toSeq.sortBy(_._1) ++ hostile
    val back = Json.parse(Json.write(all)).properties().asScala.toSeq
      .map(e => e.getKey -> e.getValue.asText)
    assert(back.map(_._1) == all.map(_._1))
    val diffs = back.zip(all).filter { case (b, a) => b != a }
    assert(diffs.isEmpty, s"${diffs.size} differ; first: ${diffs.headOption.map(_._2._1)}")
  }

  test("the recorded multi-JVM pair reads in file order with its number text intact") {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get("tools/multijvm_recorded.json"))
    val fields = Bench.readMultijvm(text)
    assert(fields.head == ("multijvm_recorded_utc" -> "2026-08-18T23:25:00Z"))
    assert(fields.exists { case (k, v) => k == "multijvm_calibration_fixed_sec_2x2" &&
      v.asInstanceOf[java.math.BigDecimal].toPlainString == "19.70" })
    assert(fields.map(_._1).distinct.size == Json.parse(text).size)
  }
}
