package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builder for the UNICODE-pathology corpus — [[UnicodeInputSpec]]'s
  * fixture: the seventh input-robustness axis. The six existing axes
  * poison structure, vector shape, scalar magnitude, key distribution,
  * and IEEE special values; none exercises the TEXT surface beyond the
  * boundary fixture's BMP multibyte row. A 100 TB multilingual crawl
  * delivers the rest routinely: astral-plane code points (every emoji is
  * a UTF-16 surrogate pair and a 4-byte UTF-8 sequence), canonical-
  * equivalence pairs (NFC U+00E9 vs NFD 'e'+U+0301 — the same text to a
  * human, different bytes to every hash/dedup), ZWJ emoji sequences,
  * bidi control characters, bare combining marks, CJK/RTL scripts,
  * embedded NUL bytes, and no-break spaces.
  *
  * Why this class is its own axis: text flows through more DISTINCT
  * function families than any scalar (split/regex/substring/length/
  * case/levenshtein/hash/sort), and each family independently chooses a
  * unit — bytes, UTF-16 code units, code points, or graphemes. A unit
  * mismatch between engine and oracle corrupts SILENTLY (a hash over a
  * differently-cased or differently-measured string is still a
  * plausible hash). The r18 probe session mapped Spark 4.1.2 vs DuckDB
  * 1.0.0 over every text function the query surface uses:
  *
  * AGREE (code-point semantics both sides): length, substring, split,
  * regexp_* (ASCII classes), upper/lower on every ROUND-TRIPPING code
  * point probed (astral, combining, ZWJ, bidi, NUL, CJK), md5/sha2/
  * octet_length (byte-level over identical UTF-8), JSON unicode escapes
  * incl. surrogate-pair escapes, binary string ordering.
  *
  * DIVERGE (adjudicated ENGINE ASYMMETRY, excluded from this corpus and
  * pinned instead — Spark side in [[UnicodeInputSpec]], oracle side in
  * dev/oracle_probe.py group 7):
  *   - case-mapping tier: Spark applies Unicode FULL case mappings
  *     (lower(U+0130) = "i"+U+0307, upper(U+00DF sharp-s) = "SS",
  *     upper(U+FB01 fi-ligature) = "FI", upper(U+0149) = U+02BC+"N");
  *     DuckDB applies SIMPLE 1:1 mappings (lower(U+0130) = "i",
  *     upper(U+00DF) = U+1E9E, ligatures unchanged). Both are
  *     Unicode-conformant tiers; full mapping is the better contract
  *     for a multilingual corpus and is this engine's behavior.
  *   - levenshtein unit: Spark counts code points, DuckDB counts BYTES
  *     (two 4-byte astral chars + 'x' vs "abc": 3 vs 9).
  *   - trim unit: Spark strips ASCII space only, DuckDB strips Unicode
  *     whitespace (U+00A0 at string edges).
  * Consequence for the corpus: the case-reaching columns (p_name via
  * q29's upper/lower/trim; documents.text via q38's lower) carry only
  * LOWER-FIXED tokens (caseless scripts or already-lowercase Latin),
  * p_type (the levenshtein operand) stays organic, and no poisoned
  * string starts or ends with non-ASCII whitespace.
  *
  * Vocabulary budget: documents.text tokens are space-split into the
  * q33/q78/q133 64-word bitmask vocabulary. The organic sf0.001 corpus
  * holds 31 distinct tokens; this fixture adds the fixed 12-token
  * [[Tokens]] pool (43 total) so the designed vocab guard never fires —
  * this axis expects ZERO aborts, unlike every prior axis.
  *
  * Poisoned columns (mod-classes, organic elsewhere; sf0.001 scale):
  *   - documents.text (doc_id % 13): 0 → the full 12-token zoo;
  *     1 → organic text + appended astral/NFD tail; 2 → single NFC
  *     token; 3 → single NFD token of the SAME text (canonical pair —
  *     byte-distinct, so exact dedup keeps both BY CONTRACT);
  *     4 → ZWJ + bidi + bare-marks sentence. n_chars re-derived as
  *     length(text) for every row (a no-op on organic rows — verified
  *     n_chars == length(text) corpus-wide).
  *   - part.p_name (p_partkey % 31 = 0): appended NBSP-carrying +
  *     astral tokens (lower-fixed; ends on an emoji, ASCII-edge safe).
  *   - customer.c_name (c_custkey % 29 = 0): appended CJK token.
  *   - events.props (event_id % 103): 0 → a raw astral+bidi "tag" field
  *     spliced INSIDE the JSON object (k preserved for q27/q56);
  *     1 → a "tag" whose VALUE carries JSON-escaped surrogate pairs
  *     (the escape-decoding path, probed identical in both engines).
  *
  * All tokens are constructed from explicit code points (the source file
  * stays pure ASCII) so the NFC/NFD byte distinction and the NUL can
  * never be mangled by an editor or transcoding pass.
  */
object UnicodeFixture {

  private def cp(points: Int*): String =
    points.map(Character.toChars(_).mkString).mkString

  /** The 12-token pathology pool: every token is lower()-fixed in BOTH
    * engines and has ASCII-safe (or empty-risk-free) edges. */
  val Tokens: Seq[String] = Seq(
    /* 0 emoji run (astral) */ cp(0x1F389, 0x1F38A),
    /* 1 math double-struck (caseless astral) */ cp(0x1D565, 0x1D566),
    /* 2 NFD: e + combining acute + "cole" */ "e" + cp(0x0301) + "cole",
    /* 3 NFC: precomposed e-acute + "cole" */ cp(0x00E9) + "cole",
    /* 4 ZWJ family sequence */
    cp(0x1F469, 0x200D, 0x1F469, 0x200D, 0x1F467),
    /* 5 bidi RLO..PDF run */ cp(0x202E) + "abc" + cp(0x202C),
    /* 6 bare combining marks, no base */ cp(0x0301, 0x0302, 0x0303),
    /* 7 CJK + kana */ cp(0x65E5, 0x672C, 0x8A9E, 0x30C6, 0x30AD, 0x30B9, 0x30C8),
    /* 8 Arabic (RTL) */ cp(0x0627, 0x0644, 0x0639, 0x0631, 0x0628, 0x064A, 0x0629),
    /* 9 embedded NUL byte */ "a" + cp(0x0000) + "b",
    /* 10 interior no-break space */ "x" + cp(0x00A0) + "y",
    /* 11 base + stacked combining marks */ "d" + cp(0x0323, 0x0307))

  /** Build the corpus under a fresh temp dir; returns the dir. `base`
    * (r19): compose the unicode poisoning ON TOP of another axis corpus
    * instead of organic sf0.001 — StressSweepSpec's unicode × skew sweep
    * passes SkewFixture's output, the TemporalFixture.build(base)
    * composition idiom. */
  def build(spark: SparkSession, base: String = TestSpark.sf0001): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-unicode-sf")
      .toString
    val sf = base

    Seq("region", "nation", "supplier", "orders", "lineitem", "embeddings")
      .foreach { t =>
        spark.read.parquet(s"$sf/$t.parquet")
          .coalesce(1).write.parquet(s"$dir/$t.parquet")
      }

    val zoo = Tokens.mkString(" ")
    val tail = Tokens(2) + " " + Tokens(0) // NFD e-acute + emoji run
    val zwjSentence = Seq(Tokens(4), Tokens(5), Tokens(6)).mkString(" ")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cls = pmod(col("doc_id"), lit(13))
    docs
      .withColumn("text",
        when(cls === 0, lit(zoo))
          .when(cls === 1, concat(col("text"), lit(" " + tail)))
          .when(cls === 2, lit(Tokens(3))) // NFC
          .when(cls === 3, lit(Tokens(2))) // NFD of the same text
          .when(cls === 4, lit(zwjSentence))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    spark.read.parquet(s"$sf/part.parquet")
      .withColumn("p_name",
        when(pmod(col("p_partkey"), lit(31)) === 0,
          concat(col("p_name"), lit(" " + Tokens(10) + " " + Tokens(0))))
          .otherwise(col("p_name")))
      .coalesce(1).write.parquet(s"$dir/part.parquet")

    spark.read.parquet(s"$sf/customer.parquet")
      .withColumn("c_name",
        when(pmod(col("c_custkey"), lit(29)) === 0,
          concat(col("c_name"), lit(" " + Tokens(7))))
          .otherwise(col("c_name")))
      .coalesce(1).write.parquet(s"$dir/customer.parquet")

    // props is '{"k": <n>}' — splice a unicode "tag" field before the
    // closing brace so q27/q56's k-extraction still sees its value.
    val rawTag = ", \"tag\": \"" + Tokens(0) + Tokens(5) + "\"}"
    // JSON-escaped surrogate pair for U+1F389 plus an escaped RLO: the
    // literal six-character sequences backslash-u-d83c, -udf89, -u202e
    // inside the JSON document, exercising each parser's escape decoder.
    val escTag = ", \"tag\": \"\\ud83c\\udf89\\u202efoo\"}"
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("props",
        when(pmod(col("event_id"), lit(103)) === 0,
          concat(expr("substring(props, 1, length(props)-1)"), lit(rawTag)))
          .when(pmod(col("event_id"), lit(103)) === 1,
            concat(expr("substring(props, 1, length(props)-1)"), lit(escTag)))
          .otherwise(col("props")))
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    dir
  }
}

/** Materialize the unicode corpus and print the dir — the committed
  * entry point for external harnesses (dev/axis_compare.sh unicode), the
  * SkewFixtureMain/NonFiniteFixtureMain idiom. */
object UnicodeFixtureMain {
  def main(a: Array[String]): Unit = {
    println(s"UNICODE_FIXTURE_DIR=${UnicodeFixture.build(TestSpark.spark)}")
  }
}

/** Exploratory sweep: run every registry query on the unicode corpus and
  * print PASS / the first cause-chain line — the adjudication input for
  * [[UnicodeInputSpec]]'s zero-abort pin. Not part of the suite; run with
  * `sbt "Test/runMain graft.UnicodeSweepMain"`. */
object UnicodeSweepMain {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = UnicodeFixture.build(spark)
    println(s"[unicode] corpus at $dir")
    Registry.all.foreach { q =>
      val r = try { TestSpark.materialize(q.fn(spark, dir)); "PASS" }
      catch {
        case t: Throwable =>
          val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .map(_.toString.linesIterator.next()).mkString(" | ")
          s"FAIL ${chain.take(300)}"
      }
      println(f"[unicode] ${q.name}%-28s $r")
    }
  }
}
