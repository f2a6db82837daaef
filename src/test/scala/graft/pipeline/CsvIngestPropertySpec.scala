package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Bronze CSV ingest reads every file by its own shape, whatever the other
  * files in the batch look like: equity files keep their Volume, FX files
  * read a null one, whichever file is largest and whatever order the glob
  * lists them in. */
class CsvIngestPropertySpec extends SparkTestBase {

  private val at = Timestamp.valueOf("2026-01-02 00:00:00")

  private case class CsvFile(symbol: String, fx: Boolean, rows: Int) {
    def volume(i: Int): Long = 100000L + 37L * i
    def text: String = {
      val header = "Date,Open,High,Low,Close" + (if (fx) "" else ",Volume")
      val lines = (0 until rows).map { i =>
        val day = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
        val px = if (fx) f"1.${1000 + i}%04d" else f"${100 + i}%d.25"
        s"$day,$px,$px,$px,$px" + (if (fx) "" else s",${volume(i)}")
      }
      (header +: lines).mkString("", "\n", "\n")
    }
  }

  private def ingest(files: Seq[CsvFile]) = {
    val dir = tmpDir("graft-csv-prop")
    files.foreach(f => Files.writeString(Paths.get(dir, s"${f.symbol}.csv"), f.text))
    BronzeIngest.readCsvDir(spark, dir, "stooq", at)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), count(col("volume")).as("nv"),
        sum(col("volume")).as("sv"), count(col("close")).as("nc"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4)))
      .toMap
  }

  private def expected(files: Seq[CsvFile]) =
    files.map { f =>
      val vol = if (f.fx) None else Some((0 until f.rows).map(f.volume).sum)
      f.symbol -> (f.rows.toLong, if (f.fx) 0L else f.rows.toLong, vol, f.rows.toLong)
    }.toMap

  test("a large FX file does not erase a small equity file's Volume") {
    val files = Seq(CsvFile("EURUSD", fx = true, rows = 50), CsvFile("SPY", fx = false, rows = 5))
    val got = ingest(files)
    assert(got("SPY")._2 > 0, s"SPY count(volume) must be > 0, got $got")
    assert(got == expected(files))
  }

  test("every file keeps its own columns over random sizes and file order") {
    val genFile = for {
      fx <- Gen.oneOf(true, false)
      rows <- Gen.choose(1, 60)
    } yield (fx, rows)
    val genBatch = for {
      n <- Gen.choose(2, 5)
      shapes <- Gen.listOfN(n, genFile)
      // random names, so the listing order varies independently of size
      names <- Gen.pick(n, ('A' to 'Z').map(c => s"${c}X"))
    } yield names.toList.zip(shapes).map { case (s, (fx, rows)) => CsvFile(s, fx, rows) }

    val prop = Prop.forAll(genBatch)(files => ingest(files) == expected(files))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
