package graft

/** Thread-sweep of the CPU-dominant extract kernel (charset decode +
  * article extraction) — locates the host's memory-bandwidth knee so the
  * scaling-pair (N, 4N) can be chosen where ~4× parallel speedup is
  * physically deliverable. Lab tool, not part of the driver contract. */
object KernelProbe {

  def main(args: Array[String]): Unit = {
    val levels = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(1, 2, 4, 8, 16, 32)
    Bench.extractThroughput(4, rounds = 2) // JIT warm
    val reps = 3
    val best = scala.collection.mutable.Map.empty[Int, Double]
    (0 until reps).foreach { _ =>
      levels.foreach { n =>
        val t = Bench.extractThroughput(n)
        best(n) = math.max(best.getOrElse(n, 0.0), t)
      }
    }
    val t1 = best(levels.head)
    levels.foreach { n =>
      println(f"threads=$n%2d docs/s=${best(n)}%9.0f speedup_vs_${levels.head}=${best(n) / t1}%5.2f per_thread_eff=${best(n) / t1 * levels.head / n}%5.2f")
    }
  }
}
