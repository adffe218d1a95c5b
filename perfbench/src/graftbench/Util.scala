package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile that leaves at least ten samples above it
    * (nearest-rank). With ten samples or fewer no percentile qualifies and
    * the maximum is reported as percentile 100. Returns (percentile, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (100, s.last)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, s(rank - 1))
    }
  }
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  def cpuSeconds: Double = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => throw new IllegalStateException("process CPU time is not available on this JVM")
  }

  /** Classes Spark's code generator has compiled in this JVM: a query
    * whose generated code is not in Spark's codegen cache compiles anew. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set size (VmHWM) in MB, or -1 where /proc is missing. */
  def peakRssMb: Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.isReadable(status)) -1.0
    else Files.readAllLines(status).stream().filter(_.startsWith("VmHWM:")).findFirst()
      .map[Double](l => l.split("\\s+")(1).toDouble / 1024.0).orElse(-1.0)
  }
}

object Dirs {
  private def walk(path: String)(f: java.nio.file.Path => Unit): Unit = {
    val paths = Files.walk(new File(path).toPath)
    try paths.forEach(p => f(p)) finally paths.close()
  }

  def copy(from: String, to: String): Unit = {
    val src = new File(from).toPath
    val dst = new File(to).toPath
    walk(src.toString) { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Bytes of the data files under `path` (hidden and `_` files excluded). */
  def dataBytes(path: String): Long = {
    var total = 0L
    walk(path) { p =>
      val n = p.getFileName.toString
      if (Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")) total += Files.size(p)
    }
    total
  }
}

/** Minimal JSON writer for the result line and the report file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Peak heap in use after a collection, over the life of the process: the
  * largest live set the program held, which unlike the process RSS does
  * not depend on how far G1 chose to grow the heap. */
object HeapWatch {
  @volatile private var peakBytes = 0L

  def install(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            var used = 0L
            info.getGcInfo.getMemoryUsageAfterGc.values.forEach(u => used += u.getUsed)
            if (used > peakBytes) peakBytes = used
          }
        }, null, null)
      case _ =>
    }

  def peakMb: Double = peakBytes / 1e6
}
