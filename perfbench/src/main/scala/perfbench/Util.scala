package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

object Util {
  def message(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val top = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
    val root = s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("")}"
    (if (c eq e) top else s"$top <- $root").take(600)
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** A field of /proc/self/status in kB, or of /proc/self/io in bytes. */
  private def procField(file: String, key: String): Long =
    Files.readAllLines(java.nio.file.Paths.get(s"/proc/self/$file")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def peakRssMb: Double = procField("status", "VmHWM") / 1024.0
  def rchar: Long = procField("io", "rchar")

  /** Resets the kernel's peak-RSS mark so the peak covers only what
    * follows (input generation is excluded). */
  def resetPeakRss(): Boolean =
    try { Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"), "5".getBytes); true }
    catch { case _: Throwable => false }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** splitmix64: a seeded, position-addressable stream of request draws. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + (i + 1) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def draw(seed: Long, i: Long, bound: Int): Int = ((mix(seed, i) >>> 1) % bound).toInt
}
