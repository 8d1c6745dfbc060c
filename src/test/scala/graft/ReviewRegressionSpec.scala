package graft

import java.sql.Timestamp

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, Dedup}

/** Regressions for review findings: long-chain components, as-of null
  * preservation, analysis-time type errors. */
class ReviewRegressionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("connectedComponents handles a 30-node chain (pointer jumping, not 1 hop/round)") {
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 30)
    assert(got.values.forall(_ == 0L), s"non-minimal labels: ${got.filter(_._2 != 0L)}")
  }

  test("as-of join preserves a genuine NULL in the newest right row (no chimera rows)") {
    val left = Seq(("A", new Timestamp(3000L), 1.0)).toDF("symbol", "time", "price")
    val right = Seq(
      ("A", new Timestamp(1000L), Option(100L)),
      ("A", new Timestamp(2000L), None: Option[Long]))
      .toDF("symbol", "time", "volume")
    val out = AsOfJoin.asof(left, right, "symbol", "time", Seq("volume")).collect().head
    assert(out.getAs[Timestamp]("asof_time").getTime == 2000L)
    assert(out.isNullAt(out.fieldIndex("asof_volume")),
      "stale non-null value resurrected past the newest right row's NULL")
  }

  test("seeded_ema / float_dot reject wrong input types at analysis time") {
    (1 to 5).map(i => ("S", i, i.toFloat)).toDF("symbol", "t", "fclose")
      .createOrReplaceTempView("typed_bars")
    val e1 = intercept[AnalysisException] {
      spark.sql("""SELECT seeded_ema(fclose, 10) OVER (PARTITION BY symbol ORDER BY t
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM typed_bars""").collect()
    }
    assert(e1.getMessage.contains("DOUBLE"))
    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT float_dot(array(1.0, 2.0), array(3.0, 4.0))").collect()
    }
    assert(e2.getMessage.contains("ARRAY<FLOAT>") || e2.getMessage.contains("array<float>"))
  }

  test("multimodal channels agree between columnar path and stub codec on non-ASCII payloads") {
    import graft.operators.{MediaDecode, MediaSynth, MediaWalk, Multimodal}
    val docs = Seq((1L, "éclair pastry")).toDF("doc_id", "text")
    val media = Multimodal.mediaFromDocs(docs)
    val colChannels = Multimodal.features(media).select("channels").head().getLong(0)
    val codecChannels = Multimodal.decodeBatches(spark, media).head().channels
    assert(colChannels == codecChannels) // first UTF-8 BYTE (0xC3), not the char
  }
}
