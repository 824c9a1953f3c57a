package graft.tsdb

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Label matchers in the style of Prometheus' four matcher types
  * (=, !=, =~, !~), compiled to Catalyst [[Column]] predicates.
  *
  * Mirrors the semantics of the reference's matcher→constraint
  * compilation (reference: search/constraint.go:55-102
  * MatchersToConstraints), including its fast paths:
  *   - `=~ ".*"`  matches everything → no predicate at all
  *   - `=~ ".+"`  → `col != ""`
  *   - a regex that is a literal alternation ("a|b|c") → IN-list
  *     (set-match optimization, constraint.go:73-76)
  *   - `!~ re` → NOT(simplified =~ re)
  *
  * NULL semantics: Prometheus treats an absent label as the empty
  * string (the reference matches null pages against "",
  * search/constraint.go:410-417). SQL three-valued logic would
  * instead silently DROP null rows from negated matchers, so every
  * compiled predicate here is null-safe: a null label value behaves
  * exactly like "".
  *
  * Pushdown: the hot paths stay parquet-pushable. `Eq(v≠"")` compiles
  * to a plain `col = v` (null rows can't match a non-empty literal,
  * so the null-safe form is equivalent) and set-matches without ""
  * compile to a plain IN — both reach `PushedFilters`. Only the
  * genuinely null-sensitive forms (negations, regexes matching "")
  * pay for a `coalesce`, mirroring the reference where only
  * equality/set constraints prune pages and regexes scan
  * dictionaries.
  */
sealed trait Matcher {
  def label: String
  /** Compile to a Catalyst predicate; None means "matches all rows". */
  def toPredicate: Option[Column]
}

object Matcher {
  /** Label column with Prometheus' absent=="" convention. */
  private def nn(label: String): Column = coalesce(col(label), lit(""))

  final case class Eq(label: String, value: String) extends Matcher {
    def toPredicate: Option[Column] =
      if (value.isEmpty) Some(col(label).isNull || col(label) === "")
      else Some(col(label) === value) // null ⇒ null ⇒ dropped == "" ≠ v. Pushes down.
  }
  final case class Neq(label: String, value: String) extends Matcher {
    // null-safe: foo!="bar" must keep rows where foo is absent.
    def toPredicate: Option[Column] = Some(nn(label) =!= value)
  }
  final case class Re(label: String, pattern: String) extends Matcher {
    def toPredicate: Option[Column] = regexPredicate(label, pattern)
  }
  final case class Nre(label: String, pattern: String) extends Matcher {
    // Negation sees nulls: `foo!~"bar"` must keep rows where foo is
    // absent ("" doesn't match bar), so negate the always-null-safe
    // form, not the pushdown-friendly one.
    def toPredicate: Option[Column] =
      regexPredicate(label, pattern, nullSafe = true) match {
        case Some(p) => Some(!p)
        case None    => Some(lit(false)) // !~ ".*" matches nothing
      }
  }

  /** A regex that is just an alternation of literals ("a|b|c"). */
  private val literalAlternation = "^[A-Za-z0-9_ |-]*$".r

  // ===== RE2 compatibility =====
  //
  // The reference compiles matcher patterns with Go's RE2
  // (search/constraint.go:639 Regex); Spark's rlike is
  // java.util.regex. The engines' COMMON syntax agrees on boolean
  // full-match results (both implement regular-language semantics and
  // we never extract submatches), but each accepts syntax the other
  // rejects — silently diverging matches are the failure mode this
  // gate removes:
  //   - Java-only constructs RE2 rejects (backtracking features:
  //     backreferences, lookahead/lookbehind, atomic groups,
  //     possessive quantifiers, \G, \Z) are REJECTED here, loudly —
  //     the analog of the reference failing to compile the matcher.
  //   - RE2-only spellings Java rejects are TRANSLATED: `(?P<name>`
  //     named groups, POSIX classes ([:alpha:] → \p{Alpha}), and
  //     RE2's literal fallback for non-repetition braces ("a{" is a
  //     literal '{' in RE2 but a syntax error in Java).

  private val posixClasses: Map[String, String] = Map(
    "alnum" -> "\\p{Alnum}", "alpha" -> "\\p{Alpha}", "ascii" -> "\\p{ASCII}",
    "blank" -> "\\p{Blank}", "cntrl" -> "\\p{Cntrl}", "digit" -> "\\p{Digit}",
    "graph" -> "\\p{Graph}", "lower" -> "\\p{Lower}", "print" -> "\\p{Print}",
    "punct" -> "\\p{Punct}", "space" -> "\\p{Space}", "upper" -> "\\p{Upper}",
    "word" -> "\\w", "xdigit" -> "\\p{XDigit}")

  private val countedRep = java.util.regex.Pattern.compile("\\{\\d+(,\\d*)?\\}")

  /** Translate an RE2 matcher pattern to java.util.regex syntax,
    * throwing on constructs RE2 itself rejects. One linear scan
    * tracking escape state and character-class nesting.
    */
  private[tsdb] def re2ToJava(pattern: String): String = {
    val out = new StringBuilder(pattern.length + 8)
    val n = pattern.length
    var i = 0
    var inClass = false
    def err(what: String): Nothing = throw new IllegalArgumentException(
      s"matcher regex uses $what, which RE2 (the reference engine) does not support: $pattern")
    while (i < n) {
      val c = pattern.charAt(i)
      c match {
        case '\\' =>
          if (i + 1 >= n) err("a trailing backslash")
          val e = pattern.charAt(i + 1)
          if (!inClass && e >= '1' && e <= '9') err(s"backreference \\$e")
          if (e == 'G') err("\\G")
          if (e == 'Z') err("\\Z (RE2 spells end-of-text \\z)")
          out.append(c).append(e)
          i += 2
        case '[' if !inClass =>
          inClass = true
          out.append(c)
          i += 1
        case '&' if inClass =>
          // Java-only class intersection: "[a&&b]" is {a}∩{b} in
          // java.util.regex but three literals in RE2 — escape so
          // '&' stays a literal member
          out.append("\\&")
          i += 1
        case '[' if inClass =>
          if (i + 1 < n && pattern.charAt(i + 1) == ':') {
            // "[:" inside a class starts a POSIX class in RE2 — a
            // missing ":]" or unknown name is a compile error there,
            // so it is one here too (searching from i+2 also keeps a
            // malformed "[[:]" from slicing out of bounds)
            val close = pattern.indexOf(":]", i + 2)
            if (close < 0) err("a malformed POSIX class ([: without :])")
            val body = pattern.substring(i + 2, close)
            val (neg, name) =
              if (body.startsWith("^")) (true, body.substring(1)) else (false, body)
            val repl = posixClasses.getOrElse(name,
              err(s"unknown POSIX class [:$name:]"))
            out.append(
              if (!neg) repl
              else if (repl == "\\w") "\\W"
              else repl.replace("\\p", "\\P"))
            i = close + 2
          } else { out.append("\\["); i += 1 } // literal [ inside a class
        case ']' if inClass =>
          inClass = false
          out.append(c)
          i += 1
        case '(' if !inClass && pattern.startsWith("(?", i) =>
          // named groups ((?P<name> and RE2-2022's (?<name>) become
          // PLAIN capturing groups: matching behavior is identical
          // (we never extract groups) and Java's stricter group-name
          // grammar (no '_', no leading digit) can't reject an
          // RE2-valid name like (?P<status_code>...)
          def dropGroupName(start: Int): Unit = {
            val gt = pattern.indexOf('>', start)
            if (gt < 0) err("an unterminated named group")
            out.append('(')
            i = gt + 1
          }
          if (pattern.startsWith("(?P<", i)) dropGroupName(i + 4)
          else if (pattern.startsWith("(?P=", i)) err("a named backreference (?P=)")
          else if (pattern.startsWith("(?=", i)) err("lookahead (?=)")
          else if (pattern.startsWith("(?!", i)) err("negative lookahead (?!)")
          else if (pattern.startsWith("(?<=", i)) err("lookbehind (?<=)")
          else if (pattern.startsWith("(?<!", i)) err("negative lookbehind (?<!)")
          else if (pattern.startsWith("(?<", i)) dropGroupName(i + 3)
          else if (pattern.startsWith("(?>", i)) err("an atomic group (?>)")
          else { out.append(c); i += 1 } // (?: (?i) are RE2-valid
        case '*' | '+' | '?' if !inClass =>
          if (i + 1 < n && pattern.charAt(i + 1) == '+')
            err(s"a possessive quantifier ($c+)")
          out.append(c)
          i += 1
        case '{' if !inClass =>
          val m = countedRep.matcher(pattern)
          m.region(i, n)
          if (m.lookingAt()) {
            if (m.end < n && pattern.charAt(m.end) == '+')
              err("a possessive quantifier ({m,n}+)")
            out.append(pattern.substring(i, m.end))
            i = m.end
          } else { out.append("\\{"); i += 1 } // RE2: non-repetition brace is literal
        case _ =>
          out.append(c)
          i += 1
      }
    }
    val res = out.toString
    // fail at PLAN BUILD, not mid-task: anything Java still rejects
    // after translation (which RE2 rejects too — e.g. "[]a]") must
    // surface as a compile error like the reference's
    try java.util.regex.Pattern.compile(res)
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        throw new IllegalArgumentException(
          s"matcher regex does not compile: $pattern (${e.getDescription})")
    }
    res
  }

  /** Does the (anchored) pattern match the empty string? Decided at
    * plan-build time so the null-safe coalesce is only paid when "" /
    * absent labels can actually match.
    */
  private def matchesEmpty(pattern: String): Boolean =
    try ("\\A(?:" + pattern + ")\\z").r.matches("") catch { case _: Exception => false }

  /** The values a regex that is a literal alternation matches
    * exactly ("a|b|c" → a, b, c); None for any other pattern. Limit
    * -1 keeps trailing empty alternatives: "api|" means "api" OR "",
    * and the "" must survive the split. */
  private[tsdb] def literalSet(pattern: String): Option[Seq[String]] =
    if (literalAlternation.matches(pattern)) Some(pattern.split("\\|", -1).toSeq)
    else None
  private object LiteralSet { def unapply(p: String): Option[Seq[String]] = literalSet(p) }

  private[tsdb] def regexPredicate(label: String, pattern: String,
      nullSafe: Boolean = false): Option[Column] =
    pattern match {
      case ".*" => None
      case ".+" => Some(nn(label) =!= "")
      case LiteralSet(set) =>
        // plain IN pushes down; coalesce only when "" can match or a
        // negation needs nulls to evaluate (not just be dropped)
        val c = if (nullSafe || set.contains("")) nn(label) else col(label)
        if (set.size == 1) Some(c === set.head)
        else Some(c.isin(set: _*))
      case p =>
        // Prometheus regexes are fully anchored; null behaves as "".
        // \A..\z, not ^..$: Go's '$' is hard end-of-text, while
        // Java's '$' also matches before a trailing newline — a
        // value "view\n" must NOT match =~"view", as in RE2.
        val jp = re2ToJava(p)
        val c = if (nullSafe || matchesEmpty(jp)) nn(label) else col(label)
        Some(c.rlike("\\A(?:" + jp + ")\\z"))
    }

  /** AND of all matchers; None when every matcher matches all rows. */
  def compile(matchers: Seq[Matcher]): Option[Column] =
    matchers.flatMap(_.toPredicate).reduceOption(_ && _)
}
