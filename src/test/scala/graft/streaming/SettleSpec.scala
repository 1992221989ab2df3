package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** `LiveStream.settledBytes` reads a file at its settle deadline: the
  * earlier of mtime + settleMs and first sight of that mtime + settleMs.
  * Bounds are wide: these are wall-clock waits on a shared machine. */
class SettleSpec extends AnyFunSuite {
  private val conf = new Configuration(false)

  private def file(body: String, ageMs: Long): Path = {
    val p = Files.createTempFile("settle", ".csv")
    Files.write(p, body.getBytes(UTF_8))
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis - ageMs))
    p
  }

  /** (bytes as text, elapsed ms) of one settledBytes call. */
  private def timedRead(p: Path, settleMs: Long): (String, Long) = {
    val t0 = System.nanoTime
    val bytes = LiveStream.settledBytes(p.toString, settleMs, conf)
    (new String(bytes, UTF_8), (System.nanoTime - t0) / 1000000L)
  }

  // the first Hadoop FileSystem lookup loads classes; keep it out of the timings
  LiveStream.settledBytes(file("warm", 60000L).toString, 0L, conf)

  test("a file older than the window is read with no sleep") {
    val (body, ms) = timedRead(file("old", 10000L), 1000L)
    assert(body == "old")
    assert(ms < 200, s"read took $ms ms")
  }

  test("a file younger than the window is read at mtime + settleMs, not a full window later") {
    val p = file("young", 600L)
    val mtime = Files.getLastModifiedTime(p).toMillis
    val (body, ms) = timedRead(p, 1000L)
    assert(body == "young")
    assert(ms < 900, s"read took $ms ms")
    // the age rule: never read before the mtime is settleMs old
    assert(System.currentTimeMillis - mtime >= 1000L)
  }

  test("an mtime in the future (storage clock ahead) settles after one unchanged window") {
    val (body, ms) = timedRead(file("ahead", -10 * 60 * 1000L), 1000L)
    assert(body == "ahead")
    assert(ms >= 1000 && ms <= 3000, s"read took $ms ms, the give-up is 5000 ms")
  }

  test("a file rewritten mid-window yields its final bytes") {
    val p = file("torn", 0L)
    val writer = new Thread(() => {
      Thread.sleep(300)
      Files.write(p, "torn+rest".getBytes(UTF_8))
      ()
    })
    writer.start()
    try {
      val (body, _) = timedRead(p, 1000L)
      assert(body == "torn+rest")
      assert(System.currentTimeMillis - Files.getLastModifiedTime(p).toMillis >= 1000L)
    } finally writer.join()
  }
}
