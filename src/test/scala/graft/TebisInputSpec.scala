package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LiveStream
import graft.tebis.{Discovery, TebisCsv}

/** One idea of a TEBIS input file: historical discovery, the
  * `format("tebis")` source and live mode list a folder by the same rule
  * and turn the same bytes into the same datapoints. */
class TebisInputSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.write(dir.resolve(name), content.getBytes(Charset.forName(TebisCsv.Encoding)))
    ()
  }

  private def series(extId: String, t0: Long, n: Int): String =
    s";$extId : S\nu;bar\n" + (1 to n).map(i => s"${t0 + i};0,$i").mkString("\n") + "\n"

  private def names(paths: Seq[String]): Seq[String] =
    paths.map(p => Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath).getFileName.toString)

  test("historical, format(\"tebis\") and the live gauges see the same files") {
    val dir = Files.createTempDirectory("tebis-which")
    val ckpt = Files.createTempDirectory("tebis-which-ckpt")
    write(dir, ".h.csv", series("hidden", 100, 1))
    write(dir, "_u.csv", series("under", 100, 1))
    write(dir, "Y.CSV", series("upper", 100, 1))
    Files.createDirectory(dir.resolve("d.csv"))
    write(dir, "TEBIS_G_100.csv", series("g1", 1000, 2))
    write(dir, "TEBIS_G_200.csv", series("g2", 2000, 3))
    val good = Seq("TEBIS_G_100.csv", "TEBIS_G_200.csv")

    assert(names(Discovery.findHistoricalFiles(dir.toString)) == good)
    assert(Discovery.findHistoricalFiles(dir.resolve(good.head).toString).isEmpty,
      "a file is not a folder of input files")

    val dsv2 = spark.read.format("tebis").load(dir.toString)
      .select("path", "externalId").distinct().collect()
    assert(names(dsv2.map(_.getString(0)).toSeq).sorted == good)
    assert(dsv2.map(_.getString(1)).toSet == Set("g1", "g2"))

    // live: a full trigger of newer files goes first, so the gauges of
    // the first push count what the folder still holds for the stream
    val now = System.currentTimeMillis
    good.foreach(n => Files.setLastModifiedTime(dir.resolve(n), FileTime.fromMillis(now - 60000)))
    (1 to LiveStream.FilesPerTrigger).foreach { i =>
      write(dir, s"TEBIS_N_${1000 + i}.csv", series(s"n$i", 5000, 1))
      Files.setLastModifiedTime(dir.resolve(s"TEBIS_N_${1000 + i}.csv"),
        FileTime.fromMillis(now - 30000 + i))
    }
    RecordingClient.reset()
    val sink = new MetricsSink.Recording
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L),
      new RecordingClient, Some(Metrics(spark.sparkContext, "test_which", sink)))
    try q.processAllAvailable() finally q.stop()
    val first = sink.pushes.head
    assert(first("test_which.available_csv_files") == 2)
    assert(first("test_which.unprocessed_files") == 2)
    assert(sink.last.get("test_which.available_csv_files") == 0)
    val posted = RecordingClient.all.flatten.map(_.externalId)
    assert(posted.size == LiveStream.FilesPerTrigger + 2 && posted.toSet.contains("g1") &&
      posted.toSet.contains("g2") && !posted.exists(Set("hidden", "under", "upper")))
    Seq(".h.csv", "_u.csv", "Y.CSV", "d.csv").foreach(n => assert(Files.exists(dir.resolve(n)), n))
  }

  test("files whose tokens tie come back from historical discovery in path order") {
    val dir = Files.createTempDirectory("tebis-ties")
    // written in reverse, so creation order is not path order
    val tied = Seq("c.csv", "b_x.csv", "a.csv", "T_z_100.csv", "T_y_100.csv", "T_x_100.csv", "T_w_50.csv")
    tied.foreach(n => write(dir, n, series("1", 100, 1)))
    assert(names(Discovery.findHistoricalFiles(dir.toString)) ==
      Seq("a.csv", "b_x.csv", "c.csv", "T_w_50.csv", "T_x_100.csv", "T_y_100.csv", "T_z_100.csv"))
    assert(names(Discovery.findHistoricalFiles(dir.toString, timeFrom = Some(60L))) ==
      Seq("T_x_100.csv", "T_y_100.csv", "T_z_100.csv"))
  }

  test("latin-1, CRLF and a bad file give the same datapoints on every read path") {
    val dir = Files.createTempDirectory("tebis-same")
    val ckpt = Files.createTempDirectory("tebis-same-ckpt")
    val dead = Files.createTempDirectory("tebis-same-dead")
    write(dir, "TEBIS_L_100.csv",
      ";\u00b51 : Temp\u00e9rature;\u00e92 : D\u00e9bit\r\nu;\u00b0C;m\u00b3\r\n1000;1,5;2,25\r\n1001;-0,5;\r\n1002;x;3\r\n")
    write(dir, "TEBIS_L_200.csv", series("\u00d83", 2000, 3))
    write(dir, "TEBIS_L_300.csv", ";9 : Z\nu;x\nBAD;1,0\n")
    type Point = (String, Long, Double)

    val hist = TebisCsv.files(spark, Discovery.findHistoricalFiles(dir.toString)).collect()
    assert(hist.count(_.error.isDefined) == 1)
    val viaFiles: Seq[Point] = hist.toSeq.filter(_.error.isEmpty)
      .flatMap(_.datapoints).map(d => (d.externalId, d.timestampMs, d.value))

    val viaSource: Seq[Point] = spark.read.format("tebis").load(dir.toString)
      .select("externalId", "timestampMs", "value").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))

    RecordingClient.reset()
    val q = LiveStream.start(spark,
      LiveStream.Config(dir.toString, ckpt.toString, triggerMs = 100L,
        failedDir = Some(dead.toString)),
      new RecordingClient)
    try q.processAllAvailable() finally q.stop()
    val viaLive: Seq[Point] = RecordingClient.all.flatten
      .flatMap(s => s.datapoints.map(d => (s.externalId, d.timestampMs, d.value)))
    assert(Files.exists(dead.resolve("TEBIS_L_300.csv")))

    val want = Seq[Point](("\u00b51", 1000000L, 1.5), ("\u00b51", 1001000L, -0.5), ("\u00e92", 1000000L, 2.25),
      ("\u00e92", 1002000L, 3.0), ("\u00d83", 2001000L, 0.1), ("\u00d83", 2002000L, 0.2), ("\u00d83", 2003000L, 0.3))
    def sorted(ps: Seq[Point]) = ps.sortBy(p => (p._1, p._2))
    assert(sorted(viaFiles) == sorted(want))
    assert(sorted(viaSource) == sorted(want))
    assert(sorted(viaLive) == sorted(want))
  }
}
