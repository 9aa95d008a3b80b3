package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SparkTestSession
import graft.queries.Multimodal

/**
 * Re-derives the regression-frozen oracle constants (`Multimodal.m02Expected`
 * / `m03Expected`) from the live `SyntheticCorpus` + `DedupConfig` and
 * compares them to the frozen literals. A corpus or config change fails
 * HERE, loudly, with the fresh literals to paste — instead of surfacing
 * as a mysterious driver-gate hash mismatch (round-2 VERDICT fragility
 * item #4).
 */
class OracleDerivationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // the driver's correctness gate runs at sf0.01 → corpusRows = 5000 for
  // m02 and min(5000, 2000) = 2000 for m03; the queries only use the dir
  // name to size the corpus (they generate, not read)
  private val gateDir = "/root/testdata/sf0.01"

  test("m02 frozen oracle constants match a fresh derivation") {
    val got = Queries.all("m02_image_decode_stats")(spark, gateDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val frozen = Multimodal.m02Expected.sortBy(_._1)
    assert(got === frozen,
      "\nSyntheticCorpus/DedupConfig changed: RE-DERIVE the frozen m02 oracle.\n" +
        "Paste into Multimodal.m02Expected:\n" +
        got.map { case (f, n, mn, mx, np) =>
          s"""    ("$f", ${n}L, ${mn}L, ${mx}L, ${np}L)""" }.mkString(",\n"))
  }

  test("m04 frozen oracle constants match a fresh derivation") {
    val got = Queries.all("m04_thumbnail_stats")(spark, gateDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    val frozen = Multimodal.m04Expected.sortBy(_._1)
    assert(got === frozen,
      "\nSyntheticCorpus/ImageCodec changed: RE-DERIVE the frozen m04 oracle.\n" +
        "Paste into Multimodal.m04Expected:\n" +
        got.map { case (f, n, mnm, mxm, mn, mx, ng) =>
          s"""    ("$f", ${n}L, ${mnm}L, ${mxm}L, ${mn}L, ${mx}L, ${ng}L)""" }
          .mkString(",\n"))
  }

  test("m05 frozen oracle constants match a fresh derivation") {
    val got = Queries.all("m05_frame_sample")(spark, gateDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    val frozen = Multimodal.m05Expected.sortBy(_._1)
    assert(got === frozen,
      "\nSyntheticMedia/VideoContainer changed: RE-DERIVE the frozen m05 oracle.\n" +
        "Paste into Multimodal.m05Expected:\n" +
        got.map { case (f, n, mn, mx, nf) =>
          s"""    ($f, ${n}L, ${mn}L, ${mx}L, ${nf}L)""" }.mkString(",\n"))
  }

  test("m06 frozen oracle constants match a fresh derivation") {
    val got = Queries.all("m06_audio_stats")(spark, gateDir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .sortBy(_._1).toSeq
    val frozen = Multimodal.m06Expected.sortBy(_._1)
    assert(got === frozen,
      "\nSyntheticMedia/WavCodec changed: RE-DERIVE the frozen m06 oracle.\n" +
        "Paste into Multimodal.m06Expected:\n" +
        got.map { case (r0, n, mn, mx, pk, zc) =>
          s"""    ($r0, ${n}L, ${mn}L, ${mx}L, ${pk}L, ${zc}L)""" }.mkString(",\n"))
  }

  test("m03 frozen oracle constants match a fresh derivation") {
    val got = Queries.all("m03_checkpointed_lineage")(spark, gateDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val order = Multimodal.m03Expected.map(_._1).zipWithIndex.toMap
    val gotSorted = got.sortBy(r => order.getOrElse(r._1, Int.MaxValue))
    assert(gotSorted === Multimodal.m03Expected,
      "\nSyntheticCorpus/DedupConfig changed: RE-DERIVE the frozen m03 oracle.\n" +
        "Paste into Multimodal.m03Expected:\n" +
        got.map { case (st, n) => s"""    ("$st", ${n}L)""" }.mkString(",\n"))
  }
}
