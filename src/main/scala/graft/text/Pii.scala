package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII scrubbing for training corpora: detect and redact email
  * addresses, IPv4 addresses, and international-format phone numbers.
  *
  * Patterns are deliberately written in the common subset of Java regex
  * (Spark) and RE2 (DuckDB oracle) — no backreferences, no lookaround —
  * so the oracle replicates detection AND replacement byte-for-byte
  * (verified via md5 of the redacted text). Everything here is per-row
  * codegen'd expression work: at 100 TB this is a map-only pass that
  * scales linearly with executors and pushes nothing to a shuffle.
  */
object Pii {

  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+\\d[\\d-]{6,14}\\d"

  /** Each pattern with its replacement tag, in redaction order. The
    * order matters and is fixed: emails first (their local part can
    * contain digit runs), then IPs, then phones (anchored on a leading
    * '+', so they never collide with IP octets).
    */
  private[graft] val rules: Seq[(String, String)] =
    Seq(emailRe -> "<EMAIL>", ipRe -> "<IP>", phoneRe -> "<PHONE>")

  def redactedCol(text: Column): Column =
    rules.foldLeft(text) { case (t, (re, tag)) => regexp_replace(t, re, tag) }

  /** Per-document PII report: counts per category (on the original
    * text) and the md5 of the redacted text — the content proof that
    * redaction removed exactly the matched spans.
    */
  def redact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val txt = col(textCol)
    df.select(col(idCol),
      size(regexp_extract_all(txt, lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(txt, lit(ipRe), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(txt, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
      md5(redactedCol(txt)).as("clean_md5"))
  }
}
