package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic-only: pure-CPU Spark scaling control (no parsing, no
  * allocation-heavy work) to separate machine-level scaling limits from
  * engine-level ones. Not part of the library surface. */
object ScalingProbe {
  def cpuWork(spark: SparkSession, tasks: Int): Double = {
    import spark.implicits._
    val t0 = System.nanoTime()
    // ~fixed CPU work per task: tight scalar loop, near-zero allocation
    val r = spark.range(0, tasks.toLong, 1, tasks).as[Long].map { i =>
      var x = i + 1; var k = 0
      while (k < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
      x
    }.reduce(_ ^ _)
    val _ = r
    (System.nanoTime() - t0) / 1e9
  }

  // allocation-heavy control: builds+discards strings (GC pressure like parsing)
  def allocWork(spark: SparkSession, tasks: Int): Double = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val r = spark.range(0, tasks.toLong, 1, tasks).as[Long].map { i =>
      var h = 0L
      var k = 0
      while (k < 300000) {
        val sb = new java.lang.StringBuilder(64)
        sb.append("chunk").append(i).append('/').append(k).append("-abcdefghijklmnop")
        h ^= sb.toString.hashCode.toLong
        k += 1
      }
      h
    }.reduce(_ ^ _)
    val _ = r
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    def at(level: Int, f: (SparkSession, Int) => Double): Double = {
      val s = graft.LocalSession(level)
      f(s, level) // warm
      val t = f(s, level * 4) // 4 waves... no: tasks = level*4 gives 4 full waves
      s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      t
    }
    val c4 = at(4, cpuWork); val c16 = at(16, cpuWork)
    println(f"cpu: n=4 $c4%.2fs 4n=16 $c16%.2fs eff=${c4 / c16 / 1.0}%.3f") // same total work per task count? no
    val a4 = at(4, allocWork); val a16 = at(16, allocWork)
    println(f"alloc: n=4 $a4%.2fs 4n=16 $a16%.2fs eff=${a4 / a16}%.3f")
  }
}
