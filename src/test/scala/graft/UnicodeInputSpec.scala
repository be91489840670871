package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seventh input-robustness axis: UNICODE-pathology text
  * ([[UnicodeFixture]] — astral code points, ZWJ sequences, NFC-vs-NFD
  * canonical pairs, bidi controls, bare combining marks, CJK/RTL
  * scripts, embedded NUL, no-break spaces).
  *
  * What the r18 probe session established (Spark 4.1.2 vs DuckDB 1.0.0,
  * every text function the query surface uses): the engines AGREE on
  * code-point semantics for length/substring/split/regex/case-roundtrip/
  * hash/sort/JSON-escape over every class in the corpus — proven
  * end-to-end by dev/axis_compare.sh unicode (Verify on the poisoned corpus →
  * 0 aborts → full DuckDB compare → PASS 123 oracled + 11 rows-only) —
  * and DIVERGE on exactly four adjudicated engine asymmetries, excluded
  * from the corpus and pinned here (engine side) + in
  * dev/oracle_probe.py group 7 (oracle side):
  *   1. case-mapping tier: Spark FULL (length-changing: sharp-s → "SS"),
  *      DuckDB SIMPLE (1:1: sharp-s → capital sharp-s U+1E9E);
  *   2. lower(U+0130 dotted-I): Spark "i"+U+0307, DuckDB "i";
  *   3. levenshtein unit: Spark CODE POINTS, DuckDB BYTES;
  *   4. trim unit: Spark ASCII space only, DuckDB Unicode whitespace.
  * None is a bug — they are different Unicode-conformant tiers — but a
  * corpus crossing them would hash-split q29/q38 SILENTLY, the exact
  * class the q56 INT-parse bug belonged to. The pins make the exclusion
  * contract loud: if a Spark upgrade changes tier, the engine pins fire;
  * if a DuckDB upgrade changes tier, oracle_probe REFUSES preflight.
  *
  * The axis's abort contract is EMPTY — pathological text is legal input
  * end-to-end (unlike every prior axis, nothing here may raise), pinned
  * as set equality so a new guard rejecting legal unicode is loud.
  */
class UnicodeInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val dir = UnicodeFixture.build(spark)

  private def chain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" | ")

  private def cp(points: Int*): String =
    points.map(Character.toChars(_).mkString).mkString

  test("unicode sweep: ZERO aborts — pathological text is legal input") {
    val failures = Registry.all.flatMap { q =>
      try { TestSpark.materialize(q.fn(spark, dir)); None }
      catch { case t: Throwable => Some(q.name -> t) }
    }
    assert(failures.isEmpty,
      "queries rejected LEGAL unicode input: " +
        failures.map { case (n, t) =>
          s"$n: ${chain(t).linesIterator.next()}" }.mkString("; "))
  }

  test("non-consumers are byte-identical to their organic outputs") {
    // q01 reads only untouched tables (lineitem); q17 reads poisoned
    // events but consumes no props (Catalyst pruning proof); q44 reads
    // untouched embeddings.
    Seq("q01_pricing_summary", "q17_user_first_last", "q44_knn_topk")
      .foreach { name =>
        val fn = Registry.queries(name)
        val poisoned = fn(spark, dir).collect().toSeq
        val organic = fn(spark, TestSpark.sf0001).collect().toSeq
        assert(poisoned == organic,
          s"$name output drifted on the unicode corpus (pruning broken?)")
      }
  }

  test("NFC and NFD spellings of the same text are DISTINCT to dedup, by contract") {
    // The fixture plants the canonical pair: doc classes 2 (NFC) and 3
    // (NFD) carry the SAME text under Unicode canonical equivalence but
    // DIFFERENT bytes. The engine's dedup/fingerprint layer is
    // deliberately byte-level (sha2/md5 over raw UTF-8, no normalization
    // pass) — identical to the oracle's, proven by unicode_compare — so
    // both docs must SURVIVE exact dedup. At 100 TB, normalization is an
    // upstream curation choice (an explicit NFC pass before ingest), not
    // something a hash layer may apply silently.
    val nfc = UnicodeFixture.Tokens(3)
    val nfd = UnicodeFixture.Tokens(2)
    assert(nfc != nfd, "fixture tokens must be byte-distinct")
    assert(java.text.Normalizer.isNormalized(nfc, java.text.Normalizer.Form.NFC))
    assert(java.text.Normalizer.normalize(nfd, java.text.Normalizer.Form.NFC) == nfc,
      "the pair must be canonically equivalent — else this pin tests nothing")
    import spark.implicits._
    val hashes = Seq(nfc, nfd).toDF("text")
      .select(sha2(col("text"), 256)).distinct().count()
    assert(hashes == 2L, "byte-level dedup must keep both canonical spellings")
  }

  test("engine case-mapping contract: Unicode FULL mappings (length-changing)") {
    // Spark applies full case mappings; the DuckDB oracle applies simple
    // 1:1 mappings (oracle_probe group 7 pins that side). These four are
    // the divergence classes excluded from every case-reaching fixture
    // column. If this pin fires after a Spark upgrade, the tier changed:
    // re-probe, re-adjudicate the exclusion list, and update group 7.
    import spark.implicits._
    val r = Seq((cp(0x0130), cp(0x00DF), cp(0xFB01), cp(0x0149)))
      .toDF("dotted", "sharps", "filig", "nprec")
      .select(lower(col("dotted")), upper(col("sharps")),
        upper(col("filig")), upper(col("nprec")))
      .collect().head
    assert(r.getString(0) == "i" + cp(0x0307), "lower(U+0130) full mapping")
    assert(r.getString(1) == "SS", "upper(sharp-s) full mapping")
    assert(r.getString(2) == "FI", "upper(fi-ligature) full mapping")
    assert(r.getString(3) == cp(0x02BC) + "N", "upper(U+0149) full mapping")
  }

  test("engine levenshtein counts CODE POINTS; trim strips ASCII space only") {
    // DuckDB's levenshtein counts BYTES (same probe: 9) and its trim
    // strips U+00A0 (oracle_probe group 7) — which is why p_type stays
    // organic and no poisoned string has non-ASCII whitespace edges.
    import spark.implicits._
    val astral = cp(0x1F389) + "x" + cp(0x1D54F) // 3 code points, 9 bytes
    val r = Seq((astral, " x" + cp(0x00A0)))
      .toDF("a", "w")
      .select(levenshtein(col("a"), lit("abc")), trim(col("w")))
      .collect().head
    assert(r.getInt(0) == 3, "levenshtein must count code points, not bytes")
    assert(r.getString(1) == "x" + cp(0x00A0),
      "trim must strip ASCII space only, keeping U+00A0")
  }

  test("JSON escape decoding: surrogate-pair escapes land as one astral code point") {
    // The fixture's class-1 props carry literal backslash-u escape
    // sequences; both parsers decode them to the same UTF-8 (probed, and
    // covered end-to-end by unicode_compare) — this pins the engine side
    // directly so the contract survives even if no query ever outputs
    // the tag field.
    import spark.implicits._
    // Built from parts: a literal backslash-u in source would be decoded
    // by the Scala LEXER itself (unicode escapes process even inside
    // triple quotes) — the JSON document must reach the parser with the
    // six-character escape sequences intact.
    val bs = "\\"
    val doc = "{" + "\"k\": 7, \"tag\": \"" +
      bs + "ud83c" + bs + "udf89" + bs + "u202e" + "foo\"}"
    val r = Seq(doc).toDF("props")
      .select(
        get_json_object(col("props"), "$.tag").as("tag"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      .collect().head
    assert(r.getString(0) == cp(0x1F389, 0x202E) + "foo",
      "escaped surrogate pair must decode to the astral code point")
    assert(r.getLong(1) == 7L, "k must survive the spliced tag field")
  }

  test("the fixture keeps the bitmask vocabulary under the 64-word guard") {
    // q33/q78/q133's designed guard aborts past 64 distinct space-split
    // tokens; the axis's zero-abort contract depends on the organic 31 +
    // the 12-token pool staying under it. A testdata regen that grows
    // the organic vocabulary must move this number, loudly, not flip
    // three queries into aborts.
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().count()
    assert(vocab <= 64, s"fixture vocabulary $vocab would trip the q33 guard")
    assert(vocab >= 43 - 2, s"fixture vocabulary $vocab lost pool tokens")
  }
}
