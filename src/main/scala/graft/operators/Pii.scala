package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PII detection/redaction — the scrub every corpus runs before text
  * leaves curation, run by the catalog face `ta_pii_redact`: one
  * definition of what counts as PII.
  *
  * Regexes use ASCII-only classes so the Java regex engine (Spark)
  * and RE2 (the DuckDB oracle) agree on every byte. Email classes
  * cover BOTH cases explicitly (emails are case-preserving in the
  * wild — Bob.Smith@Corp.COM must scrub like bob.smith@corp.com; an
  * ASCII [A-Za-z] range keeps Java/RE2 parity without (?i)'s
  * engine-specific Unicode folding). Redaction order
  * (email → ipv4 → phone) is part of the contract: placeholders carry
  * no digits, so later passes can never re-match earlier rewrites.
  *
  * Scale shape: pure per-row regex work — codegen'd built-ins, zero
  * shuffle, stateless.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Attach per-class audit counts (`n_emails`, `n_ips`, `n_phones`)
    * and the redacted `clean_text`. Each class is counted on the text
    * AS ITS OWN PASS SEES IT (emails on the raw text, IPs after the
    * email pass, phones after the IP pass) so Σ counts always equals
    * the placeholders actually emitted into clean_text: an address
    * like `1.2.3.4@corp.com` is one email and ZERO IPs — counting
    * every class on the raw text reported a phantom unredacted IP
    * that no [IP] placeholder matched, the exact mismatch a
    * compliance audit reconciles. NULL text yields NULL counts and
    * NULL clean_text — the op is total; gate NULLs upstream if the
    * sink requires them scrubbed. */
  def withScrub(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))))
      .withColumn("__pii_s1",
        regexp_replace(col(textCol), EmailRe, "[EMAIL]"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("__pii_s1"), lit(Ipv4Re), lit(0))))
      .withColumn("__pii_s2",
        regexp_replace(col("__pii_s1"), Ipv4Re, "[IP]"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("__pii_s2"), lit(PhoneRe), lit(0))))
      .withColumn("clean_text",
        regexp_replace(col("__pii_s2"), PhoneRe, "[PHONE]"))
      .drop("__pii_s1", "__pii_s2")
}
