package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Host-condition evidence and JVM counters. The probes are diagnostic
  * fields of every run: they never exclude or reweight a measurement. */
object Host {

  /** Fixed single-thread sha256 workload (96 MB); its wall time depends only
    * on host conditions (steal, contention), never on the program. */
  def noiseProbeS(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var i = 0
    while (i < 96) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  /** First-touch fault rate: MB/s writing one byte per 4 KiB page of a
    * fresh 32 MB allocation. Lazily backed memory shows here at tens of
    * MB/s while the sha256 probe stays calm. */
  def faultProbeMbPerS(): Double = {
    val mb = 32
    val t0 = System.nanoTime()
    val a = new Array[Byte](mb << 20)
    var i = 0
    while (i < a.length) { a(i) = 1; i += 4096 }
    val sec = math.max((System.nanoTime() - t0) / 1e9, 1e-9)
    if (a(0) == 2) println("")
    mb / sec
  }

  /** Total GC time of the JVM so far, seconds. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Live heap: a full collection, a pause for Spark's ContextCleaner to
    * drop the blocks of broadcasts and shuffles that collection found
    * unreachable, a second collection, then the heap in use, GB. Called
    * only between timed phases. */
  def liveHeapGb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e9
  }

  def maxHeapGb: Double = Runtime.getRuntime.maxMemory / 1e9

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
}

/** Minimal JSON writing (the benchmark's outputs are flat objects). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
