package lambdabench

import org.apache.spark.sql.Row

/** The benchmark's own checks; `python3 lambdabench/run.py --self-test`.
  * Returns the number of failed checks (the process exit code). */
object SelfTest {

  def run(env: Env, expected: Expected): Int = {
    val checks = Seq[(String, () => Boolean)](
      "tabular and corpus cover every registered query exactly once" -> { () =>
        expected.checkCoverage(graft.Registry.all.map(_.name))
        val t = expected.panel("tabular").toSet
        val c = expected.panel("corpus").toSet
        t.intersect(c).isEmpty && (t ++ c) == graft.Registry.all.map(_.name).toSet &&
          expected.pins.values.forall(p => p.panel == "tabular" || p.panel == "corpus")
      },
      "every oracled query is labelled oracle, every other no_oracle" -> { () =>
        expected.pins.values.forall(p =>
          p.label == (if (graft.SparkEntry.oracleSql.contains(p.name)) "oracle" else "no_oracle"))
      },
      "the fingerprint changes with one cell" -> { () =>
        val a = Array(Row(1L, "x", 2.5), Row(2L, "y", null))
        val b = Array(Row(1L, "x", 2.5), Row(2L, "y", 0.0))
        val c = Array(Row(1L, "x", 2.5000001), Row(2L, "y", null))
        Seq(true, false).forall(o =>
          Fingerprint.of(a, o) != Fingerprint.of(b, o) && Fingerprint.of(a, o) != Fingerprint.of(c, o))
      },
      "the fingerprint changes with row order where the query orders" -> { () =>
        val a = Array(Row(1L, "x"), Row(2L, "y"))
        Fingerprint.of(a, ordered = true) != Fingerprint.of(a.reverse, ordered = true) &&
          Fingerprint.of(a, ordered = false) == Fingerprint.of(a.reverse, ordered = false)
      },
      "string cells cannot forge a separator" -> { () =>
        Fingerprint.of(Array(Row("a|b", "c")), true) != Fingerprint.of(Array(Row("a", "b|c")), true)
      },
      "the stream generator is deterministic per seed" -> { () =>
        val a = Stream.generate(7, 40)
        val b = Stream.generate(7, 40)
        val c = Stream.generate(8, 40)
        a == b && a != c && a.dropped > 0 &&
          a.chunks.flatten.exists(e => a.chunks.indexWhere(_.contains(e)) != e.natural)
      })
    val failed = checks.filterNot { case (name, check) =>
      val ok = try check() catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"  $name: $e"); false
      }
      println(s"${if (ok) "PASS" else "FAIL"}  $name")
      ok
    }
    println(s"${checks.size - failed.size}/${checks.size} self-tests passed")
    failed.size
  }
}
