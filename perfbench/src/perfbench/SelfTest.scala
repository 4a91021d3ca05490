package perfbench

import java.security.MessageDigest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Self-tests for the harness: order statistics, interval union, and
  * byte-identical inputs for one seed. Prints one line per test; returns
  * the process exit code. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case scala.util.control.NonFatal(e) => println(s"  $e"); false }
    if (!pass) failures += 1
    println(s"perfbench selftest ${if (pass) "PASS" else "FAIL"} $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def run(spark: SparkSession, work: String): Int = {
    test("percentile of an odd count") {
      close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0) && close(Stats.percentile(Seq(5.0, 1, 4, 2, 3), 75), 4.0) &&
        close(Stats.percentile(Seq(7.0), 75), 7.0)
    }
    test("percentile of an even count interpolates") {
      close(Stats.median(Seq(4.0, 1, 3, 2)), 2.5) && close(Stats.percentile(Seq(1.0, 2, 3, 4), 75), 3.25) &&
        close(Stats.percentile(Seq(1.0, 2), 0), 1.0) && close(Stats.percentile(Seq(1.0, 2), 100), 2.0)
    }
    test("a percentile needs ten samples beyond it") {
      Stats.supported(20, 50) && !Stats.supported(19, 50) && Stats.supported(40, 75) && !Stats.supported(39, 75)
    }
    test("union of overlapping, nested, touching and disjoint intervals") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25 &&
        Stats.unionLength(Seq((0L, 100L), (10L, 20L))) == 100 &&
        Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20 &&
        Stats.unionLength(Seq((30L, 40L), (0L, 5L))) == 15 &&
        Stats.unionLength(Nil) == 0
    }
    test("union clips intervals to the call") {
      Stats.unionLength(Seq((0L, 10L), (8L, 30L)), 5L, 20L) == 15 &&
        Stats.unionLength(Seq((0L, 4L)), 5L, 20L) == 0
    }
    def digests(seed: Long, root: String): Map[String, String] = {
      val g = new Gen(seed)
      for (src <- Gen.Sources; i <- 0 until 3)
        Gen.write(spark, s"$root/trickle/${src}_$i.parquet", Gen.schema(src), g.incrementKeys(i, 500, 50, 50).map { case (k, v) => g.row(src, k, v) })
      Gen.write(spark, s"$root/corpus/documents.parquet", Gen.CorpusSchema, g.corpus(200, 10, 10)._1)
      val fs = FileSystem.get(new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new Path(root), true)
      val out = scala.collection.mutable.Map.empty[String, String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) {
          val in = fs.open(p)
          val bytes = try in.readAllBytes() finally in.close()
          out(s"${p.getParent.getName}/${p.getName}") =
            MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xff}%02x").mkString
        }
      }
      out.toMap
    }
    test("an increment re-delivers distinct keys of the previous file, some changed") {
      val g = new Gen(7L)
      val ks = g.incrementKeys(3, 500, 50, 40)
      val old = ks.drop(500)
      ks.size == 590 && ks.map(_._1).distinct.size == 590 && old.forall(x => x._1 > 1000 && x._1 <= 1500) &&
        old.count(_._2 == 3) == 50 && old.count(_._2 == 2) == 40 && g.incrementKeys(0, 500, 50, 40).size == 500
    }
    val a = digests(7L, s"$work/gen_a")
    val b = digests(7L, s"$work/gen_b")
    val c = digests(8L, s"$work/gen_c")
    test(s"the same seed gives byte-identical inputs (${a.size} files)") { a.size == 10 && a == b }
    test("another seed gives other inputs") { a.keySet == c.keySet && a.keys.forall(k => a(k) != c(k)) }
    println(s"perfbench selftest ${if (failures == 0) "ok" else s"$failures failed"}")
    if (failures == 0) 0 else 1
  }
}
