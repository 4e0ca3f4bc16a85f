package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Clean

class CleanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("lineDocFrequency counts distinct docs per normalized line") {
    val d = docs(
      1L -> "unique one\nFooter Line",
      2L -> "unique two\nfooter line\nfooter line", // repeat inside ONE doc
      3L -> "  footer line  \nunique three") // whitespace/case normalized
    val df = Clean.lineDocFrequency(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("footer line") == 3) // distinct docs, not occurrences
    assert(df("unique one") == 1)
    assert(!df.contains("")) // empty lines never counted
  }

  test("stripBoilerplate drops high-df lines, keeps order, keeps empty-doc rows") {
    val d = docs(
      1L -> "keep a\nshared footer\nkeep b",
      2L -> "first\nshared footer\nlast",
      3L -> "shared footer") // ALL lines boilerplate → survives as ''
    val out = Clean.stripBoilerplate(d, minDf = 3L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "keep a\nkeep b") // middle line removed, order kept
    assert(out(2L) == "first\nlast")
    assert(out(3L) == "") // doc row never silently deleted
    assert(out.size == 3)
  }

  test("stripBoilerplate below threshold is identity; blank lines survive") {
    val d = docs(1L -> "a\n\nb", 2L -> "a\nc")
    // 'a' has df=2 < minDf=3 → nothing stripped, empty line intact
    val out = Clean.stripBoilerplate(d, minDf = 3L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a\n\nb")
    assert(out(2L) == "a\nc")
  }

  test("repetitionStats native kernel matches the Column formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    // the round-6 graft_bigram_stats kernel replaced the interpreted
    // split/zip_with/array_distinct tree — pin equality on edge cases:
    // unicode (non-ASCII separates like the char-class regex), digit
    // words, punctuation runs, empty/whitespace/null text, >32k word
    // ids are irrelevant but repeated far-apart bigrams are not
    val d = docs(
      1L -> "a b a b a",
      2L -> "Héllo wörld héllo wörld",  // é/ö split words: "h llo w rld"×2
      3L -> "a1 2b a1 2b",
      4L -> "  ",
      5L -> "one",
      6L -> "x y x z x y x z x y",
      7L -> "漢字 kanji 漢字 kanji",
      8L -> null)
    val words = filter(
      split(regexp_replace(lower(coalesce(col("text"), lit(""))),
        "[^a-z0-9]+", " "), " ", -1),
      w => w =!= "")
    val n = size(words)
    val bigrams = zip_with(
      slice(words, lit(1), greatest(n - 1, lit(0))),
      slice(words, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val reference = d.select(col("doc_id"),
        when(n < 2, lit(0)).otherwise(size(bigrams)).cast("long").as("n_bigrams"),
        when(n < 2, lit(0))
          .otherwise(size(bigrams) - size(array_distinct(bigrams)))
          .cast("long").as("n_dup"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val kernel = Clean.repetitionStats(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(kernel == reference)
  }

  test("repetitionStats counts duplicate word bigrams") {
    val d = docs(
      1L -> "a b a b a",  // bigrams: ab ba ab ba → 4 total, 2 dup
      2L -> "x y z",      // xy yz → 0 dup
      3L -> "word",       // <2 words → 0/0
      4L -> "Stop, STOP! stop?") // case/punct-normalized: 2 bigrams, 1 dup
    val out = Clean.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((4L, 2L)))
    assert(out(2L) == ((2L, 0L)))
    assert(out(3L) == ((0L, 0L)))
    assert(out(4L) == ((2L, 1L)))
  }

  test("redactPii masks emails, IPv4, and phones; order handles overlaps") {
    val d = docs(
      1L -> "mail a.user+tag@sub.example.org or b@x.io now",
      2L -> "host 192.168.0.1 and 10.0.255.7 up",
      3L -> "call 555-867-5309 or 555.867.5309 or 555 867 5309",
      4L -> "no pii here at all",
      5L -> "edge a@1.2.3.4 is not an email (alpha TLD rule)",
      6L -> "edge a1.2.3.44@example.com is one email") // email pass first
    val out = Clean.redactPii(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "mail <EMAIL> or <EMAIL> now")
    assert(out(2L) == "host <IP> and <IP> up")
    assert(out(3L) == "call <PHONE> or <PHONE> or <PHONE>")
    assert(out(4L) == "no pii here at all")
    assert(out(5L) == "edge a@<IP> is not an email (alpha TLD rule)")
    assert(out(6L) == "edge <EMAIL> is one email")
  }

  test("dedupDocLines keeps first occurrence per doc, preserves blanks") {
    val d = docs(
      1L -> "head\nbody\nHEAD\nbody", // case-normalized repeats dropped
      2L -> "a\n\nb\n\na") // blank lines all survive; second 'a' dropped
    val out = Clean.dedupDocLines(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "head\nbody")
    assert(out(2L) == "a\n\nb\n")
  }

  test("stripBoilerplateTurns drops cross-conversation repeated turns only") {
    import spark.implicits._
    import java.sql.Timestamp
    def turn(conv: String, idx: Int, text: String) =
      graft.schema.Turn(conv, idx, "user", text, null, new Timestamp(idx * 1000L))
    val turns = Seq(
      turn("c1", 0, "You are a HELPFUL   assistant."), // whitespace/case variants
      turn("c2", 0, "you are a helpful assistant."),   // normalize together
      turn("c3", 0, "You are a helpful assistant."),
      turn("c1", 1, "tell me about scala"),
      turn("c1", 2, "tell me about scala"), // SAME conv twice → df=1, kept
      turn("c2", 1, "unrelated question")).toDS()
    val out = Clean.stripTurnsByNorms(turns,
      Clean.boilerplateTurnNorms(turns, minConvs = 3L)).collect()
    assert(out.length == 3)
    assert(out.forall(t => !t.text.toLowerCase.contains("assistant")))
    // within-conversation repetition alone never strips
    assert(out.count(_.text == "tell me about scala") == 2)
  }

  test("within-doc line dedup is per-document (no cross-doc leakage)") {
    val d = docs(1L -> "shared\nown1", 2L -> "shared\nown2")
    val out = Clean.dedupDocLines(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "shared\nown1")
    assert(out(2L) == "shared\nown2")
  }

  test("repetitionStats treats NULL text as an empty word stream (0, 0)") {
    // size(null) is null and skips the when() guard — without the
    // coalesce the row emitted NULL counts, diverging from the DuckDB
    // oracle's coalesced zeros
    val d = docs(1L -> null, 2L -> "a b a b")
    val out = Clean.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((0L, 0L)))
    assert(out(2L) == ((3L, 1L))) // 'a b','b a','a b' → one duplicate
  }

  test("dedupDocLines keeps NULL-text docs on the spine (clean_text = '')") {
    // a null text explodes to zero lines; the spine join must still
    // emit the row — same never-silently-delete contract as
    // stripBoilerplate
    val d = docs(1L -> "a\nb", 2L -> null)
    val out = Clean.dedupDocLines(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a\nb")
    assert(out(2L) == "")
    assert(out.size == 2)
  }
}
