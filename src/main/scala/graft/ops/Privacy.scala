package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Access-log privacy operators — the redaction pass an s3-access-log
  * pipeline (the reference's domain: `cmd/export.py` ships raw
  * `remoteip` straight into the warehouse) needs before logs can be
  * retained long-term or joined with other datasets:
  *
  *  - '''/24 masking''': zero the host octet — the standard
  *    IP-truncation anonymization (GDPR-style), keeps network-level
  *    analytics (abuse origin, CDN split) while dropping the
  *    host-level identifier;
  *  - '''stable pseudonymization''': a salted-hash token per IP —
  *    session stitching and per-client rate analysis still work across
  *    days, but the token can't be reversed without the salt, and
  *    rotating the salt unlinks history.
  *
  * Both are pure codegen'd column expressions — at 100 TB this is a
  * narrow map fused into whatever scan precedes it (no shuffle, no UDF);
  * the demo aggregation below adds exactly one hash-partition exchange
  * on the /24 key.
  */
object Privacy {

  /** Zero the last octet: `a.b.c.d` → `a.b.c.0` (the /24 network).
    * A value that is not dotted-quad-shaped (IPv6, `-`, a hostname)
    * masks to NULL — not to a garbage `".0"` token that would silently
    * merge every non-IPv4 client into one fake network group. */
  def maskIpv4(ip: Column): Column = {
    val prefix = regexp_extract(ip, "^(\\d+\\.\\d+\\.\\d+)\\.", 1)
    when(prefix =!= "", concat(prefix, lit(".0")))
  }

  /** Stable salted pseudonym: 16 hex chars of md5(salt:ip). Stable for a
    * fixed salt (joinable across runs/days), unlinkable once the salt
    * rotates. 64 bits keeps birthday collisions negligible below ~2^32
    * distinct clients.
    *
    * SECURITY NOTE: the protection is only as strong as the salt's
    * secrecy — the IPv4 space is enumerable, so a leaked salt lets
    * anyone reverse every pseudonym by brute force. Production deploys
    * must inject the salt from secret storage; the committed default
    * exists for the deterministic test oracle only. */
  def pseudonymize(ip: Column, salt: String): Column =
    substring(md5(concat(lit(salt), lit(":"), ip)), 1, 16)

  /** q44: anonymized per-/24 access summary over the synthesized event
    * log stream (same deterministic IP synthesis as q20, so the oracle
    * can mirror it): request count, distinct client IPs, distinct
    * pseudonyms, and the lexicographic first pseudonym per network.
    * `n_ips = n_pseudonyms` on every row is the built-in
    * collision-freedom check (asserted in OpsSpec, hash-checked by the
    * oracle).
    */
  def q44IpAnonymize(s: SparkSession, dir: String): DataFrame = {
    val ip = graft.queries.LogParsing.syntheticRemoteIp
    Tables.events(s, dir)
      .select(
        maskIpv4(ip).as("cidr24"),
        ip.as("ip"),
        pseudonymize(ip, "graft-salt-v1").as("pseudonym"))
      .groupBy(col("cidr24"))
      .agg(
        count(lit(1)).as("n_requests"),
        countDistinct(col("ip")).as("n_ips"),
        countDistinct(col("pseudonym")).as("n_pseudonyms"),
        min(col("pseudonym")).as("first_pseudonym"))
      .orderBy(col("cidr24"))
  }

  // --- Free-text PII scan/redaction (q60) ----------------------------
  //
  // The scrub a pipeline runs over RAW text before it is retained or
  // used as training data: find identifier-shaped spans — emails, IPv4
  // addresses, long digit runs (account/request numbers) — count them,
  // and rewrite them to typed placeholders. The declared query runs it
  // over the q20 synthesized S3 access-log lines (the reference's own
  // privacy surface: client IPs and ARN account ids in every line);
  // the core scans any text column, and the fixture spec plants emails
  // to prove that path. All pure codegen'd regex expressions (RE2-safe
  // subset, so the oracle's regex engine agrees exactly) — a narrow map
  // fused into the scan at 100 TB, no shuffle, no UDF.

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern  = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  val DigitRunPattern = "[0-9]{4,}"

  def emailCount(x: Column): Column =
    size(regexp_extract_all(x, lit(EmailPattern), lit(0))).cast("long")
  def ipCount(x: Column): Column =
    size(regexp_extract_all(x, lit(Ipv4Pattern), lit(0))).cast("long")
  def digitRunCount(x: Column): Column =
    size(regexp_extract_all(x, lit(DigitRunPattern), lit(0))).cast("long")

  /** The redaction passes, applied in a fixed order: emails first (their
    * local part may contain digit runs or IP-shaped spans), then IPs
    * (octet groups must go as a unit, not as digit fragments), then bare
    * digit runs. */
  def redactEmails(x: Column): Column = regexp_replace(x, EmailPattern, "<EMAIL>")
  def redactIps(x: Column): Column = regexp_replace(x, Ipv4Pattern, "<IP>")
  def redactDigitRuns(x: Column): Column =
    regexp_replace(x, DigitRunPattern, "<NUM>")

  /** q60: PII scan + redaction over the synthesized access-log lines —
    * per line: identifier-span counts and the md5 of the redacted line
    * (the retention-safe fingerprint: equal raw lines give equal
    * redacted hashes; the reverse does NOT hold — lines differing only
    * inside redacted spans collide by design, which is exactly what
    * makes the hash safe to retain). */
  def q60PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.events(s, dir)
      .select(col("event_id"),
        graft.queries.LogParsing.syntheticLogLine.as("line"))
    piiScan(lines, col("line"))
      .select(col("event_id"), col("n_emails"), col("n_ips"),
        col("n_digit_runs"), col("redacted_md5"))
      .orderBy(col("event_id"))
  }

  /** The reusable core: appends the scan columns to any frame. The five
    * output names (n_emails, n_ips, n_digit_runs, redacted,
    * redacted_md5) REPLACE same-named caller columns if present —
    * callers carrying any of them must rename before routing through
    * (the q60 oracle contract pins these names, so they cannot be
    * prefixed away engine-side). Each
    * class is counted on the text AS ITS REDACTION PASS SEES IT (emails
    * on raw, IPs after email redaction, digit runs after both), so
    * every count equals the number of placeholders of that class in the
    * redacted output — an audit can reconcile counts against
    * placeholders exactly. Counting everything on the raw text instead
    * would tally spans nested inside emails (e.g. the digit run in
    * `a1234567@b.co`) that no placeholder accounts for.
    *
    * The staged intermediates are plain Column expressions, never named
    * temp columns — a temp column could silently clobber (and then
    * drop) a caller column of the same name; Catalyst collapses these
    * projections and codegen's subexpression elimination evaluates each
    * shared regex pass once. */
  def piiScan(df: DataFrame, text: Column): DataFrame = {
    val afterEmails = redactEmails(text)
    val afterIps = redactIps(afterEmails)
    df
      .withColumn("n_emails", emailCount(text))
      .withColumn("n_ips", ipCount(afterEmails))
      .withColumn("n_digit_runs", digitRunCount(afterIps))
      .withColumn("redacted", redactDigitRuns(afterIps))
      .withColumn("redacted_md5", md5(col("redacted")))
  }

  // --- k-anonymous aggregate release (q104) ---------------------------
  //
  // The release gate for SHARING aggregates derived from user activity
  // (a public data card, a partner report): a cell computed from fewer
  // than k distinct users re-identifies — classic small-cell disclosure
  // — so its measures are suppressed (nulled) while the cell's
  // existence and grain stay visible for coverage accounting. This is
  // the aggregate-side complement of the row-side redaction above:
  // q60 scrubs identifiers out of retained rows, q104 keeps released
  // STATISTICS from functioning as identifiers.

  /** Per-cell aggregates with small-cell suppression: cells with fewer
    * than `k` distinct contributing users release NULL measures and
    * `suppressed = true`. One hash aggregate over the grain (the
    * distinct-user count rides the same shuffle as the other measures
    * via partial aggregation); the suppression itself is a narrow
    * post-aggregate projection — at 100 TB the cost IS the one
    * aggregate, and the released frame is O(cells), safe to collect or
    * publish. */
  def kAnonymousRelease(events: DataFrame, k: Int): DataFrame = {
    // DIV: exact long division — `/` on epoch-nanos longs is double
    // division and loses sub-second precision (Tables.events contract).
    val cells = events
      .groupBy(col("event_type"), expr("ts DIV 86400000000000").as("day_idx"))
      .agg(
        countDistinct(col("user_id")).as("nu"),
        count(lit(1)).as("ne"),
        sum(col("value").cast("decimal(28,6)")).as("tv"))
    val ok = col("nu") >= k
    cells.select(
      col("event_type"), col("day_idx"),
      when(ok, col("nu")).as("n_users"),
      when(ok, col("ne")).as("n_events"),
      when(ok, col("tv").cast("double")).as("total_value"),
      (!ok).as("suppressed"))
  }

  /** q104: the k=50 anonymous release of the per-(event_type, day)
    * activity summary. At sf0.01 the 42..67-user cells straddle the
    * threshold, so both released and suppressed rows are exercised;
    * the oracle replays the suppression rule exactly. */
  def q104KAnonymity(s: SparkSession, dir: String): DataFrame =
    kAnonymousRelease(Tables.events(s, dir), k = 50)
      .orderBy(col("event_type"), col("day_idx"))

  /** q240: L-DIVERSITY audit (Machanavajjhala et al., ICDE '06) — the
    * check k-anonymity (q104) misses: a group can be large AND still
    * leak if everyone in it shares the sensitive value (the homogeneity
    * attack). Quasi-identifier = (source, lang); sensitive value = the
    * 20-token length band (what an attacker who knows a doc's
    * source+lang learns about its size class). Reports per group:
    * size, distinct-l, entropy-l (e^H — the effective number of
    * sensitive values an observer faces), and the distinct-l < 3 flag.
    *
    * Exact: counts are integers; each entropy term rounds the libm
    * p·ln p product to 12 and decimal-sums (the q182 log recipe), the
    * final e^H rounds 6. Shape: ONE (qid × sensitive) count aggregate,
    * everything after on aggregated rows. */
  def q240LDiversity(s: SparkSession, dir: String, l: Int = 3): DataFrame = {
    val docs = Tables.documents(s, dir)
    lDiversity(docs
      .select(col("source"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("nt"))
      .select(col("source"), col("lang"), expr("nt DIV 20").as("sens")), l)
  }

  /** The audit core over any (source, lang, sens) frame. */
  def lDiversity(rows: DataFrame, l: Int): DataFrame = {
    val cells = rows.groupBy(col("source"), col("lang"), col("sens"))
      .agg(count(lit(1)).as("c"))
    val grp = cells.groupBy(col("source"), col("lang"))
      .agg(sum(col("c")).as("k"), count(lit(1)).as("l_distinct"))
    cells.join(grp, Seq("source", "lang"))
      .withColumn("term", round(
        (col("c").cast("double") / col("k").cast("double")) *
          log(col("c").cast("double") / col("k").cast("double")), 12)
        .cast("decimal(28,12)"))
      .groupBy(col("source"), col("lang"), col("k"), col("l_distinct"))
      .agg(sum(col("term")).as("hsum"))
      .select(col("source"), col("lang"), col("k"), col("l_distinct"),
        round(exp(-col("hsum").cast("double")), 6).as("entropy_l"),
        (col("l_distinct") < l.toLong).as("homogeneity_risk"))
      .orderBy(col("source"), col("lang"))
  }
}
