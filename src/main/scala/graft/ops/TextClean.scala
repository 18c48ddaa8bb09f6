package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-cleaning operators for corpus ingest pipelines: PII redaction
  * and HTML boilerplate stripping — the scrubbing steps between raw-web
  * ingest (WARC/WET) and quality filtering in public pretraining
  * pipelines (The Pile, C4, RefinedWeb all document variants of both).
  *
  * Everything here is chains of native `regexp_replace`/`regexp_count`
  * — scan-local, whole-stage-codegen'd, zero shuffles at any corpus
  * size — and every pattern stays inside the regex subset Java and RE2
  * share (no lookaround, no backreferences), so the DuckDB oracles
  * replicate the transforms byte-for-byte.
  */
object TextClean {

  /** Email addresses: local part @ dotted domain with an alpha TLD. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (no octet-range validation — redaction wants
    * recall; a 999.0.0.1 "address" is still not useful training text).
    */
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** International-ish phone numbers: optional +CC then 7-12 digits
    * grouped by spaces or dashes. Word-boundary anchored (the `\b` sits
    * BETWEEN the optional `+` and the first digit — `+` is a non-word
    * char, so a leading boundary would never fire after a space) so bare
    * long integers (ids, timestamps) don't match.
    */
  val PhoneRe = "\\+?\\b\\d{1,3}[- ]\\d{3}[- ]\\d{3,4}(?:[- ]\\d{1,4})?\\b"

  /** Redact emails, IPv4 addresses, and phone numbers, in that fixed
    * order (emails first so an address like `u@10.0.0.1` is consumed as
    * one email rather than leaking its host as an "IP"). Output keeps
    * all input columns, replaces `textCol`, and appends per-kind match
    * counts (counted BEFORE replacement, so overlaps are attributed to
    * the kind that consumed them).
    */
  def redactPii(df: DataFrame, textCol: String,
      emailToken: String = "<EMAIL>", ipToken: String = "<IP>",
      phoneToken: String = "<PHONE>"): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailRe, emailToken)
    val afterIp = regexp_replace(afterEmail, Ipv4Re, ipToken)
    val afterPhone = regexp_replace(afterIp, PhoneRe, phoneToken)
    df.withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("n_ips", regexp_count(afterEmail, lit(Ipv4Re)).cast("long"))
      .withColumn("n_phones", regexp_count(afterIp, lit(PhoneRe)).cast("long"))
      .withColumn(textCol, afterPhone)
  }

  // script/style blocks go first (their CONTENT must vanish, not just
  // the tags), then comments, then remaining tags; (?s) so blocks span
  // newlines, non-greedy so adjacent blocks don't fuse
  private val ScriptRe = "(?s)<script\\b[^>]*>.*?</script>"
  private val StyleRe = "(?s)<style\\b[^>]*>.*?</style>"
  private val CommentRe = "(?s)<!--.*?-->"
  private val TagRe = "<[^>]+>"

  // the named entities worth decoding without an entity table; &amp;
  // LAST so "&amp;lt;" decodes to the literal "&lt;", not to "<"
  private val entities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Consistent PSEUDONYMIZATION of emails: every occurrence of an
    * address is replaced by a STABLE token derived from the address
    * itself — `<EMAIL_xxxxxxxx>` with the first 8 md5 hex chars of the
    * lowercased address — so the same identity maps to the same token
    * in every document while the raw address leaves the corpus. The
    * referential-integrity upgrade over [[redactPii]]'s uniform
    * `<EMAIL>` token: coreference ("alice@… wrote to alice@…")
    * survives anonymization, which conversation/thread training data
    * needs.
    *
    * Scan-local: extract the matches (native regexp), fold the DISTINCT
    * matches over the text with `aggregate` + `replace` — all native
    * codegen'd HOFs, zero shuffles, and exactly replayable in SQL
    * (list_reduce + replace + md5). The fold applies LONGEST address
    * first (ties broken lexicographically): a shorter address that is a
    * literal substring of a longer one (standalone `an@x.com` alongside
    * `ryan@x.com`) must not rewrite the longer one's tail, and once the
    * longer ones are tokenized (`<EMAIL_…>` contains no `@`) every
    * remaining literal occurrence of a shorter address is a genuine
    * standalone one. Appends `n_identities` (distinct addresses
    * pseudonymized). Tokens are 8-hex-stable ACROSS corpora — the same
    * address pseudonymizes identically in a later ingest.
    */
  def pseudonymizeEmails(df: DataFrame, textCol: String): DataFrame = {
    val matches = array_sort(
      array_distinct(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))),
      (l, r) => when(length(l) =!= length(r), length(r) - length(l))
        .otherwise(when(l < r, -1).when(l > r, 1).otherwise(0)))
    // a user __m would be overwritten by the staging withColumn and
    // dropped from the pass-through output — silent column loss
    Ids.requireNoReservedNames("pseudonymizeEmails", "input",
      df.columns.toSeq, Set("__m"), df.sparkSession)
    df.withColumn("__m", matches)
      .withColumn("n_identities", size(col("__m")).cast("long"))
      .withColumn(textCol,
        aggregate(col("__m"), col(textCol), (acc, m) =>
          org.apache.spark.sql.functions.replace(acc, m,
            concat(lit("<EMAIL_"),
              substring(md5(lower(m)), 1, 8), lit(">")))))
      .drop("__m")
  }

  /** Strip HTML to visible text: drop script/style blocks and comments
    * with their content, drop all remaining tags, decode the common
    * named entities, collapse whitespace runs to single spaces, trim.
    * A pure per-row `regexp_replace` chain — one codegen'd projection,
    * the shape that survives any corpus size.
    */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(regexp_replace(text, ScriptRe, " "), StyleRe, " "),
      CommentRe, " ")
    val noTags = regexp_replace(noBlocks, TagRe, " ")
    val decoded = entities.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(e), r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** [[stripHtml]] over a DataFrame, replacing `textCol` and appending
    * the visible-text length.
    */
  def stripHtmlDf(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, stripHtml(col(textCol)))
      .withColumn("n_chars_visible", length(col(textCol)).cast("long"))

  // ---- Unicode normalization (ftfy-lite / CCNet-style text fixing) ----
  //
  // Every pattern uses \x{...} escapes, the syntax Java regex and RE2
  // share, so the DuckDB oracles replicate each replacement exactly.

  /** Invisible formatting characters that carry no text content: zero
    * width space/non-joiner/joiner, word joiner, BOM/ZWNBSP, soft hyphen.
    */
  val InvisibleRe = "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]"

  /** Unicode space separators normalized to ASCII space: NBSP, ogham
    * space, the en/em/figure/thin family (U+2000–200A), narrow NBSP,
    * medium math space, ideographic space.
    */
  val UnicodeSpaceRe =
    "[\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]"

  /** C0 controls except tab/LF/CR, plus DEL. (C1 controls survive NFC
    * and are rare enough in real text to leave; windows-1252 mojibake is
    * a decode-layer problem, not a normalize-layer one.)
    */
  val ControlRe =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{007F}]"

  /** Typographic punctuation folded to ASCII (opt-in — it loses
    * information): curly/low-9 single quotes and primes → `'`, curly/
    * low-9 double quotes and double primes → `"`, en/em/horizontal-bar
    * dashes → `-`, ellipsis → `...`.
    */
  val PunctFold: Seq[(String, String)] = Seq(
    "[\\x{2018}\\x{2019}\\x{201A}\\x{2032}]" -> "'",
    "[\\x{201C}\\x{201D}\\x{201E}\\x{2033}]" -> "\"",
    "[\\x{2013}\\x{2014}\\x{2015}]" -> "-",
    "\\x{2026}" -> "...")

  /** Unicode normalization form (NFC/NFD/NFKC/NFKD) as a codegen'd
    * scalar — see [[graft.spark.NormalizeFormExpression]].
    */
  def normalizeForm(text: Column, form: String = "NFC"): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.spark.NormalizeFormExpression(
        org.apache.spark.sql.GraftBridge.expression(text), form))

  /** Canonical text fixing for corpus ingest: compose to `form`
    * (default NFC), drop invisible formatting characters, map Unicode
    * space separators to ASCII space, strip control characters
    * (keeping tab/LF/CR), optionally fold typographic punctuation to
    * ASCII. A single codegen'd projection — zero shuffles at any
    * corpus size. The NFC step runs FIRST so combining sequences
    * compose before the character-class passes see them.
    */
  def normalizeUnicode(text: Column, form: String = "NFC",
      foldPunct: Boolean = false): Column = {
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(normalizeForm(text, form), InvisibleRe, ""),
        UnicodeSpaceRe, " "),
      ControlRe, "")
    if (!foldPunct) cleaned
    else PunctFold.foldLeft(cleaned) { case (c, (re, r)) =>
      regexp_replace(c, re, r)
    }
  }

  /** [[normalizeUnicode]] over a DataFrame, replacing `textCol` and
    * appending `n_chars_removed` (original minus normalized length —
    * a cheap corpus-health signal: high removal rates flag encoding
    * damage upstream).
    */
  def normalizeUnicodeDf(df: DataFrame, textCol: String,
      form: String = "NFC", foldPunct: Boolean = false): DataFrame =
    df.withColumn("n_chars_removed",
        (length(col(textCol)) -
          length(normalizeUnicode(col(textCol), form, foldPunct))).cast("long"))
      .withColumn(textCol, normalizeUnicode(col(textCol), form, foldPunct))

  // ---- Mojibake repair (ftfy-style double-UTF-8 inversion) ----
  //
  // The dominant real-world encoding damage: UTF-8 bytes were decoded
  // as Latin-1 somewhere upstream ("é" → "Ã©", "😀" → "ð"),
  // sometimes twice. The inversion is exact — re-encode the chars as
  // Latin-1 bytes and strictly decode them as UTF-8 — and fires only
  // when that decode succeeds, so clean text (ASCII, or genuine
  // Latin-1-range prose like "café", whose bytes are NOT valid UTF-8)
  // passes through untouched. The residual heuristic risk is text that
  // legitimately quotes mojibake sequences; ftfy documents the same
  // trade-off.

  /** One inversion step, or null when the string is not Latin-1-range
    * mojibake (chars > U+00FF, pure ASCII, or bytes that fail a STRICT
    * UTF-8 decode).
    */
  private def undoMojibakeOnce(s: String): String = {
    var hasHigh = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c > 0xFF) return null
      if (c >= 0x80) hasHigh = true
      i += 1
    }
    if (!hasHigh) return null
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) { bytes(i) = s.charAt(i).toByte; i += 1 }
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out == s) null else out
    } catch { case _: java.nio.charset.CharacterCodingException => null }
  }

  /** Pure kernel for [[fixMojibake]]: inverts up to two rounds of
    * UTF-8-read-as-Latin-1 damage, returns the input unchanged when no
    * round applies.
    */
  private[graft] def fixMojibakeValue(s: String): String = {
    var cur = s
    var rounds = 0
    while (rounds < 2) {
      val next = undoMojibakeOnce(cur)
      if (next == null) return cur
      cur = next
      rounds += 1
    }
    cur
  }

  /** Pure kernel for [[mojibakeDamage]]: re-reads the string's UTF-8
    * bytes as Latin-1 — the damage [[fixMojibake]] inverts. Test/oracle
    * helper (lossless for any input, including astral-plane chars).
    */
  private[graft] def mojibakeDamageValue(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Repair UTF-8-read-as-Latin-1 mojibake (up to two nested rounds);
    * non-mojibake text passes through unchanged. A codegen'd scalar
    * (zero shuffles; SQL: `graft_fix_mojibake`) — see
    * [[graft.spark.FixMojibakeExpression]].
    */
  def fixMojibake(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.spark.FixMojibakeExpression(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** Apply one round of UTF-8-read-as-Latin-1 damage — the inverse of
    * [[fixMojibake]]'s repair step, for fixtures and round-trip gates.
    */
  def mojibakeDamage(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.spark.MojibakeDamageExpression(
        org.apache.spark.sql.GraftBridge.expression(text)))

  // ---- C4 heuristic filtering (Raffel et al. 2020 §2.2) ----

  /** The C4 cleaning rules, faithfully: per LINE — keep only lines that
    * end in a terminal punctuation mark (`.`/`!`/`?`/closing quote),
    * have at least `minLineWords` words, and don't mention
    * "javascript"; per PAGE (evaluated on the retained lines) — drop
    * pages with fewer than `minSentences` sentences (naive terminator
    * segmentation, [[graft.ops.TextStats.sentenceDelimited]]), pages
    * containing "lorem ipsum" or a curly brace, and pages containing
    * any word from `badWords` (whole-word, case-insensitive — C4 uses
    * the public "List of Dirty, Naughty…" here; pass your own).
    *
    * Output keeps all input columns, replaces `textCol` with the
    * retained lines (newline-joined; empty when nothing survives), and
    * appends `n_lines_kept`, `n_lines_dropped`, `n_sentences`, and the
    * page-level `keep` flag (callers filter on it; emitting droppees
    * keeps every decision auditable). Pure scan-local array/regexp
    * work — zero shuffles at any corpus size, and every pattern stays
    * in the Java∩RE2 subset so the DuckDB oracle replays it exactly.
    */
  def c4Filter(df: DataFrame, textCol: String,
      badWords: Seq[String] = Seq.empty, minSentences: Int = 5,
      minLineWords: Int = 3): DataFrame = {
    val badWordRe =
      if (badWords.isEmpty) null
      else "\\b(?:" + badWords.map(w =>
        java.util.regex.Pattern.quote(w.toLowerCase)).mkString("|") + ")\\b"
    val keptLines = filter(split(col(textCol), "\n"), l =>
      trim(l).rlike("[.!?\"]$") &&
        (size(split(trim(l), "\\s+")) >= minLineWords) &&
        !lower(l).contains("javascript"))
    // same silent-loss class as pseudonymizeEmails' __m
    Ids.requireNoReservedNames("c4Filter", "input",
      df.columns.toSeq, Set("__kept"), df.sparkSession)
    df.withColumn("__kept", keptLines)
      .withColumn("n_lines_dropped",
        (size(split(col(textCol), "\n")) - size(col("__kept"))).cast("long"))
      .withColumn(textCol, array_join(col("__kept"), "\n"))
      .withColumn("n_lines_kept", size(col("__kept")).cast("long"))
      .drop("__kept")
      .withColumn("n_sentences", size(filter(
        split(graft.ops.TextStats.sentenceDelimited(col(textCol)), "\n"),
        s => length(trim(s)) > 0)).cast("long"))
      .withColumn("keep",
        ((col("n_sentences") >= minSentences) &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{") &&
          (if (badWordRe == null) lit(true)
           else !lower(col(textCol)).rlike(badWordRe)))
          .cast("long"))
  }
}
