package graft

import graft.core.SessionTuning
import graft.text.FuzzyJoin
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe for the FUZZY (edit-distance) join: grow a
  * templated-name corpus 1× / 4× / 16× and record what actually bounds the
  * work:
  *
  *  - `out_pairs`   — verified pairs (the answer);
  *  - `join_sec`    — wall-clock of the full exact join (index + verify);
  *                    the claim under test is that it tracks OUTPUT, not
  *                    n²;
  *  - `naive_gram_join_rows` — the counterfactual: Σ bucket² over raw
  *                    q-grams = what a naive shared-gram candidate join
  *                    would materialize on this corpus (the template
  *                    grams make it quadratic) — the quantity the
  *                    rarest-first prefix index never produces.
  *
  * The corpus is the adversarial real-world shape: every name shares a
  * long constant template prefix ("Entity#…"), ids differ in a digit
  * suffix, so naive gram joins collapse onto the template grams while the
  * frequency-ordered prefixes keep them out of the index.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.FuzzyScaleProbe"
  * }}}
  * Prints one JSON line per scale.
  */
object FuzzyScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.builder(defaultCpus = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    for (scale <- Seq(1, 4, 16)) {
      val n = 2000 * scale
      val names = spark.range(1, n + 1)
        .select($"id", concat(lit("Entity#"),
          format_string("%09d", $"id" * 7 % 1000000)).as("s"))
      val (outPairs, sec) = time {
        FuzzyJoin.editDistanceJoin(names.toDF(), "id", "s", maxDist = 1)
          .count()
      }
      // the counterfactual: what a NAIVE shared-gram candidate join would
      // materialize on this corpus (Σ bucket² over raw q-grams) — the
      // quantity the rarest-first prefix index avoids ever producing
      val prefixRows = {
        val q = 3
        val grams = names
          .select($"id", length($"s").as("l"), $"s",
            posexplode(sequence(lit(1), length($"s") - (q - 1)))
              .as(Seq("p", "pos")))
          .withColumn("g", expr(s"substring(s, pos, $q)"))
        grams.groupBy("g").count().agg(sum($"count" * $"count")).head()
          .getLong(0) // Σ bucket² = naive shared-gram join size
      }
      println(s"""{"probe":"fuzzy","scale":$scale,"n":$n,""" +
        s""""out_pairs":$outPairs,"join_sec":${sec.formatted("%.2f")},""" +
        s""""naive_gram_join_rows":$prefixRows,""" +
        s""""naive_vs_out":${if (outPairs == 0) -1
          else prefixRows / math.max(outPairs, 1)}}""")
    }
    spark.stop()
  }
}
