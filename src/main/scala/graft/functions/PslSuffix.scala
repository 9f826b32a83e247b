package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Public-suffix machinery as native expressions (rounds 13–14).
  *
  * Round 13 established the cost discipline: the rule set is
  * process-local metadata loaded lazily from a classpath resource, and
  * the test is ONE node in the expression tree. (The first full-PSL
  * form expressed the membership test as `isin(<3,614 string
  * literals>)`: Catalyst converts that to an `InSet` — O(1) per row —
  * but the literal children live in the EXPRESSION TREE, and
  * `Curation.registrableDomain`'s derived column is re-inlined at every
  * reference (join key, window key, two group keys, blocked flag), so
  * every query carrying it paid ~5 × 36 KB of tree through analysis,
  * optimization, and plan serialization — measured: `curate_domains`
  * warm median 0.61 → 1.19 s at sf0.1 from plan-time cost alone.)
  * Executors on a real cluster load the rule set from the same jar;
  * nothing ships in the plan.
  *
  * Round 14 completes the RULE SET (VERDICT r13 next #6): the resource
  * carries the PSL ICANN section's COMPLETE rules — 7,354 exact
  * rules of 1–4 labels (round 13 shipped only the 3,614 two-label
  * ASCII ones; `example.k12.ak.us`-style municipal-registry hosts
  * minted wrong domains), 18 wildcard rules (`*.ck`: ANY single label
  * under the base is part of the suffix), and 8 exception rules
  * (`!www.ck`: prevails over every other match; the suffix is the rule
  * minus its leftmost label, so the rule itself IS the registrable
  * domain) — and the whole PSL ALGORITHM (exception-first, then
  * longest match, default rule `*`) runs inside one native expression,
  * [[PslRegistrableDomain]]. Per row: one backward scan for the last
  * ≤5 dots plus at most ~8 hash probes on suffix substrings — cheaper
  * than the two `substring_index` byte scans + predicate it replaces.
  * IDN rules ship ONLY in their IDNA2008/UTS46 punycode (`xn--`) form
  * (round 16 — round 14 shipped both spellings, round 15 made every
  * probed host IDNA-normalize to punycode FIRST, so the PSL's own 453
  * Unicode spellings were unreachable and `graft.tools.SlimPsl` (last
  * held in commit 52ef7a0) shed them
  * after verifying each punycode twin with the runtime's own IDN
  * call): `shop.example.公司.cn` and `shop.example.xn--55qx5d.cn`
  * both resolve to the ONE canonical registrable
  * `example.xn--55qx5d.cn` instead of minting the SUFFIX itself as a
  * "domain" (what the last-two-label default did). */
object PslSuffixImpl {

  /** The parsed rule sets: exact rules, wildcard bases (the part after
    * `*.`), exception rules (without `!`), and the label-count caps the
    * matcher needs. */
  final class Rules(val exact: java.util.HashSet[String],
                    val wildcardBases: java.util.HashSet[String],
                    val exceptions: java.util.HashSet[String],
                    val maxRuleLabels: Int, val maxExceptionLabels: Int)

  lazy val rules: Rules = {
    val in = getClass.getResourceAsStream("/graft/psl_icann.txt")
    require(in != null, "psl_icann.txt missing from classpath")
    val exact = new java.util.HashSet[String](16384)
    val wild = new java.util.HashSet[String](64)
    val exc = new java.util.HashSet[String](16)
    var maxRule = 1
    var maxExc = 0
    def labels(s: String): Int = s.count(_ == '.') + 1
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#")).foreach { l =>
        if (l.startsWith("!")) {
          val r = l.substring(1); exc.add(r)
          maxExc = math.max(maxExc, labels(r))
        } else if (l.startsWith("*.")) {
          val base = l.substring(2); wild.add(base)
          maxRule = math.max(maxRule, labels(base) + 1)
        } else {
          exact.add(l); maxRule = math.max(maxRule, labels(l))
        }
      }
    finally in.close()
    new Rules(exact, wild, exc, maxRule, maxExc)
  }

  /** The exact TWO-LABEL ASCII rules — [[graft.etl.Curation
    * .MultiLabelSuffixes]]'s audit surface and [[IsPslSuffix]]'s
    * membership set (kept at its round-13 meaning: "is this two-label
    * ASCII string itself a public suffix by an exact rule"; round 14
    * adds the punycode spellings of the two-label IDN rules, which are
    * ASCII by construction). */
  lazy val twoLabelExact: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](8192)
    rules.exact.forEach(r =>
      if (r.count(_ == '.') == 1 && r.forall(_ < 128)) { s.add(r); () })
    s
  }

  def isMultiLabelSuffix(s: UTF8String): Boolean =
    twoLabelExact.contains(s.toString)

  /** `host` with non-ASCII labels converted to their IDNA punycode
    * (`xn--`) form (round 15, VERDICT r14 stretch — UTS46-style
    * normalization BEFORE the rule probe): a crawl corpus carries IDN
    * hosts in whichever spelling the crawler recorded, and a host
    * MIXING spellings across labels (`shop.example.公司.cn`) previously
    * resolved by whichever spelling its suffix labels happened to use.
    * Normalizing first makes the two spellings provably identical
    * through the whole curation path — one canonical registrable
    * domain, so caps and blocklists can never be dodged by re-spelling.
    * ASCII hosts (the overwhelming majority of any crawl) take a
    * single-scan fast path; malformed labels keep their original
    * spelling (curation must never throw on crawl garbage — the
    * default-rule path still yields a domain). Since round 16 the
    * resource carries ONLY punycode spellings — the normalization here
    * is what made the Unicode twins unreachable (`graft.tools.SlimPsl`,
    * last held in commit 52ef7a0). */
  private def toAsciiHost(host: String): String = {
    var i = 0
    while (i < host.length) {
      if (host.charAt(i) >= 128) {
        return try
          java.net.IDN.toASCII(host, java.net.IDN.ALLOW_UNASSIGNED)
            .toLowerCase(java.util.Locale.ROOT)
        catch { case _: IllegalArgumentException => host }
      }
      i += 1
    }
    host
  }

  /** Registrable domain of an already-lowercased host under the full
    * rule set — the PSL algorithm: exception rules prevail (suffix =
    * the rule minus its leftmost label ⇒ the rule itself is the
    * registrable domain), else the LONGEST matching exact-or-wildcard
    * rule is the suffix, else the default rule `*` (suffix = last
    * label); registrable = suffix + one label. A host that IS a bare
    * suffix (or shorter) passes through unchanged — the round-12/13
    * contract every downstream oracle pins. Since round 15 the host is
    * IDNA-normalized first ([[toAsciiHost]]), so the returned domain is
    * the CANONICAL punycode spelling whenever the input carried
    * Unicode labels. */
  def registrable(h: UTF8String): UTF8String = {
    val host = h.toString
    val out = registrableOf(host)
    if (out == host) h else UTF8String.fromString(out)
  }

  def registrableOf(host0: String): String = {
    val host = toAsciiHost(host0)
    if (host.isEmpty) return host
    val r = rules
    // positions of the last `need` dots (backward scan, O(suffix) chars)
    val need = r.maxRuleLabels + 1
    val dotPos = new Array[Int](need)
    var dots = 0
    var i = host.length - 1
    while (i >= 0 && dots < need) {
      if (host.charAt(i) == '.') { dotPos(dots) = i; dots += 1 }
      i -= 1
    }
    // host has >= k labels iff dots >= k-1 (the scan saw the whole
    // string whenever dots < need); lastK is only called with k <= dots+1
    def lastK(k: Int): String =
      if (k > dots) host else host.substring(dotPos(k - 1) + 1)
    // exceptions first (PSL: exception rules prevail regardless of
    // other matches' length)
    var k = math.min(r.maxExceptionLabels, dots + 1)
    while (k >= 2) {
      if (r.exceptions.contains(lastK(k))) return lastK(k)
      k -= 1
    }
    // longest exact-or-wildcard match; default `*` = one label
    var suffixLen = 1
    var found = false
    k = math.min(r.maxRuleLabels, dots + 1)
    while (!found && k >= 1) {
      if (r.exact.contains(lastK(k))) { suffixLen = k; found = true }
      else if (k >= 2 && r.wildcardBases.contains(lastK(k - 1))) {
        suffixLen = k; found = true
      }
      k -= 1
    }
    if (dots + 1 > suffixLen) lastK(suffixLen + 1) else host
  }
}

/** `true` iff the (already-lowercased) string is a two-label ICANN
  * public suffix by an exact rule — round 13's membership predicate,
  * kept for callers that audit the two-label set;
  * [[graft.etl.Curation.registrableDomain]] itself now runs the full
  * algorithm through [[PslRegistrableDomain]]. */
case class IsPslSuffix(child: Expression)
    extends UnaryExpression with Predicate {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"is_psl_suffix expects string, got ${other.simpleString}")
  }
  override def prettyName: String = "is_psl_suffix"
  override def nullSafeEval(input: Any): Any =
    PslSuffixImpl.isMultiLabelSuffix(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PslSuffixImpl.isMultiLabelSuffix($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registrable domain of an already-lowercased host — the FULL PSL
  * algorithm (exact + wildcard + exception rules, longest match,
  * exception priority, default `*`) as ONE expression-tree node; see
  * [[PslSuffixImpl]] for the plan-cost rationale and
  * [[PslSuffixImpl.registrableOf]] for the semantics. */
case class PslRegistrableDomain(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"psl_registrable_domain expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "psl_registrable_domain"
  override def nullSafeEval(input: Any): Any =
    PslSuffixImpl.registrable(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PslSuffixImpl.registrable($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
