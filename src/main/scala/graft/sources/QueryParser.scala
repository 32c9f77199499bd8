package graft.sources

/** Driver-side compiler for a documented Lucene-QueryParser subset
  * (reference: Lucene's classic QueryParser syntax, app-level search
  * boxes everywhere) — the q223 discipline applied to a whole query
  * language: parse what the engine's verbs can honor EXACTLY, reject
  * everything else loudly by name. The output AST routes to
  * [[LexicalStore.searchParsed]], which resolves each clause through
  * the existing verb internals (one fold per clause, the multi-term
  * analysis-chain bypass for dictionary atoms) and runs them all on
  * one clause core: one postings read per layout, one per-document
  * aggregate of clause presences and subtotals, the candidate rule
  * below as one predicate over them, integer-exact scoring
  * everywhere.
  *
  * Supported grammar (whitespace-separated clauses; parsing is pure
  * string work on the driver — query-sized, no Spark):
  *
  * {{{
  * query    := clause+                    with AND / OR / NOT between
  * clause   := [+|-] [field ':'] body ['^' posint]
  * body     := atom | '(' group-clause+ ')'       -- ONE level of grouping
  * atom     := '"' word+ '"' ['~' nonnegint]   -- phrase [slop]
  *           | word '*'                        -- trailing-star prefix
  *           | word '~' [1|2]                  -- fuzzy (default 2)
  *           | word-with-*-or-?                -- wildcard (glob)
  *           | ('['|'{') lo ' TO ' hi (']'|'}') -- term range (mixed brackets OK)
  *           | word                            -- plain term
  * }}}
  *
  * Semantics (documented here once; the executor cites this):
  * `+`/`AND` mark clauses MUST, `-`/`NOT` mark MUST_NOT, everything
  * else is SHOULD (Lucene's defaults). `AND` promotes BOTH neighbors
  * to MUST unless a neighbor is already MUST_NOT (`a AND NOT b` = +a
  * -b, Lucene's reading); `OR` asserts its neighbors exist and marks
  * nothing. With ≥1 MUST clause, SHOULD clauses only add score; with
  * none, a candidate must match ≥1 SHOULD clause (minShouldMatch=1
  * implicit — [[LexicalStore.searchBoolean]]'s exact rule). `^n`
  * boosts with POSITIVE INTEGER weights only (n·1e6 micros — the
  * engine's exact-integer contract; fractional boosts are rejected,
  * scale the other clauses up instead).
  *
  * GROUPS (one level — covers the overwhelming majority of real
  * search-box queries): `(a OR b) AND c`, `-(x y)`, `field:(x y)`
  * (the field distributes over the group's clauses), `(a b)^n`
  * (the boost applies to the group's per-doc SUBTOTAL through the
  * same overflow-safe split every clause boost uses). A group is ONE
  * clause of the outer query: its inner +/-/AND/OR/NOT combine by
  * the same occur rules, its match set is [[LexicalStore
  * .searchBoolean]]'s candidate rule applied to the inner clauses
  * (every inner MUST intersected minus every inner MUST_NOT; no
  * musts → union of inner SHOULDs), and its score is the Σ of inner
  * scoring-clause subtotals over that match set.
  *
  * RANGES: `[lo TO hi]` / `{lo TO hi}` (Lucene's TermRangeQuery,
  * square = inclusive, curly = exclusive, mixed brackets allowed) —
  * a dictionary scan between the folded bounds with the same
  * df-ranked maxExpansions cap every dictionary atom carries
  * ([[LexicalStore.searchTermRange]]).
  *
  * Rejected loudly (outside the honorable subset): NESTED groups
  * (depth > 1), boosts on a group's inner clauses (boost the group),
  * a field clause inside a field-scoped group, empty or all-negative
  * groups, open-ended ranges (`[a TO *]`), fractional or zero
  * boosts, boosts above the exact-integer headroom cap (^16), fuzzy
  * distance > 2 (Lucene's own cap), regexp syntax (`/re/` — use
  * searchRegexp directly), bare operators, unbalanced quotes,
  * parens, or brackets, `:` with an empty field or body, and a
  * query whose clauses are all MUST_NOT (nothing would score —
  * Lucene rejects pure-negative queries too).
  */
object QueryParser {

  sealed trait Occur
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur

  sealed trait Atom
  /** A single term, analyzed under the target field's chain. */
  final case class TermAtom(text: String) extends Atom
  /** Quoted phrase; slop 0 = exact adjacency ([[LexicalStore.searchPhrase]]),
    * slop > 0 = ordered span with ≤slop gap ([[LexicalStore.searchSpanNear]]). */
  final case class PhraseAtom(words: Seq[String], slop: Int) extends Atom
  /** Trailing-star prefix — [[LexicalStore.searchPrefix]]'s expansion. */
  final case class PrefixAtom(prefix: String) extends Atom
  /** General `*`/`?` pattern — [[LexicalStore.searchGlob]]'s expansion. */
  final case class WildcardAtom(pattern: String) extends Atom
  /** `word~d` — [[LexicalStore.searchFuzzy]]'s distance-ranked rewrite. */
  final case class FuzzyAtom(term: String, maxDist: Int) extends Atom
  /** `[lo TO hi]`/`{lo TO hi}` — [[LexicalStore.searchTermRange]]'s
    * dictionary scan between the folded bounds. */
  final case class RangeAtom(lo: String, hi: String,
                             inclLo: Boolean, inclHi: Boolean) extends Atom
  /** One level of parenthesized grouping — the inner clauses carry
    * their own occurs (and distributed field); never nests. */
  final case class GroupAtom(clauses: Seq[Clause]) extends Atom

  final case class Clause(occur: Occur, field: Option[String], atom: Atom,
                          boostMicros: Long)

  final case class Parsed(clauses: Seq[Clause]) {
    require(clauses.nonEmpty, "query has no clauses")
    require(clauses.exists(_.occur != MustNot),
      "query is all-negative — nothing would score (add a scoring clause)")
  }

  /** The query's visible text — the scoring (non-MUST_NOT) clauses'
    * surface forms in parse order, syntax stripped (wildcard
    * metacharacters dropped, a range contributes its two bounds, a
    * group its inner scoring clauses): the text a hybrid verb embeds
    * for the dense arm ([[graft.operators.Hybrid.searchParsedHybrid]]). */
  def plainText(parsed: Parsed): String = {
    def atomText(a: Atom): Seq[String] = a match {
      case TermAtom(t) => Seq(t)
      case PhraseAtom(ws, _) => ws
      case PrefixAtom(p) => Seq(p)
      case WildcardAtom(p) =>
        Seq(p.filterNot(c => c == '*' || c == '?')).filter(_.nonEmpty)
      case FuzzyAtom(t, _) => Seq(t)
      case RangeAtom(lo, hi, _, _) => Seq(lo, hi)
      case GroupAtom(cs) =>
        cs.filter(_.occur != MustNot).flatMap(c => atomText(c.atom))
    }
    parsed.clauses.filter(_.occur != MustNot)
      .flatMap(c => atomText(c.atom)).mkString(" ")
  }

  private val FieldRx = "[A-Za-z_][A-Za-z0-9_]*".r

  def parse(query: String): Parsed = {
    val raw = lex(query)
    require(raw.nonEmpty, s"empty query '$query'")
    Parsed(parseItems(raw, groupField = None, inGroup = false))
  }

  /** The shared clause-sequence pass (outer query AND group innards):
    * pass 1 folds NOT into the following clause, pass 2 applies AND's
    * MUST promotion / OR's neighbor assertion. */
  private def parseItems(raw: Seq[String], groupField: Option[String],
                         inGroup: Boolean): Seq[Clause] = {
    // pass 1: NOT consumes the following clause token
    sealed trait Item
    case class Op(name: String) extends Item
    case class Cl(clause: Clause) extends Item
    val items = scala.collection.mutable.ArrayBuffer.empty[Item]
    var i = 0
    while (i < raw.length) {
      raw(i) match {
        case "AND" | "OR" => items += Op(raw(i)); i += 1
        case "NOT" =>
          require(i + 1 < raw.length, "dangling NOT at end of query")
          require(raw(i + 1) != "AND" && raw(i + 1) != "OR" && raw(i + 1) != "NOT",
            s"NOT must be followed by a clause, got '${raw(i + 1)}'")
          val c = parseClause(raw(i + 1), groupField, inGroup)
          require(c.occur == Should,
            s"NOT cannot combine with +/- on '${raw(i + 1)}'")
          items += Cl(c.copy(occur = MustNot)); i += 2
        case tok => items += Cl(parseClause(tok, groupField, inGroup)); i += 1
      }
    }
    // pass 2: AND promotes both neighbors to MUST (MustNot wins);
    // OR only asserts its neighbors exist
    val arr = items.toArray
    arr.zipWithIndex.foreach {
      case (Op(name), j) =>
        require(j > 0 && j < arr.length - 1 &&
            arr(j - 1).isInstanceOf[Cl] && arr(j + 1).isInstanceOf[Cl],
          s"$name needs a clause on both sides")
        if (name == "AND") Seq(j - 1, j + 1).foreach { n =>
          arr(n) match {
            case Cl(c) if c.occur == Should => arr(n) = Cl(c.copy(occur = Must))
            case _ => ()
          }
        }
      case _ => ()
    }
    arr.collect { case Cl(c) => c }.toIndexedSeq
  }

  /** Whitespace split that keeps a quoted phrase, a parenthesized
    * group, or a bracketed range (with their attached prefix/field/
    * suffixes) as one token. */
  private def lex(q: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var pDepth = 0 // parens (group) nesting, outside quotes
    var bDepth = 0 // brackets (range) nesting, outside quotes
    q.foreach { c =>
      if (c == '"') { inQ = !inQ; sb += c }
      else if (inQ) sb += c
      else c match {
        case '(' => pDepth += 1; sb += c
        case ')' =>
          require(pDepth > 0, s"unbalanced ')' in query '$q'")
          pDepth -= 1; sb += c
        case '[' | '{' => bDepth += 1; sb += c
        case ']' | '}' =>
          require(bDepth > 0, s"unbalanced '$c' in query '$q'")
          bDepth -= 1; sb += c
        case w if w.isWhitespace && pDepth == 0 && bDepth == 0 =>
          if (sb.nonEmpty) { out += sb.toString; sb.clear() }
        case o => sb += o
      }
    }
    require(!inQ, s"unbalanced quote in query '$q'")
    require(pDepth == 0, s"unbalanced '(' in query '$q'")
    require(bDepth == 0, s"unbalanced '[' or '{' in query '$q'")
    if (sb.nonEmpty) out += sb.toString
    out.toSeq
  }

  /** `^n` suffix → boost micros. The cap derives the exact-integer
    * headroom: an expansion clause sums up to maxExpansions per-term
    * contributions, each inside the engine's standing ~2.2e16 micros
    * bound, so the split's first term w·(m div 1e6) needs
    * n·maxExpansions ≤ 256 to stay under 2^63 — the parser caps n at
    * 16 (the default-maxExpansions share of that product; the
    * executor re-validates the full n × innerClauses × maxExpansions
    * product against the caller's actual maxExpansions). The digit-
    * length guard runs BEFORE toInt so a 20-digit boost gets this
    * named rejection, not a bare NumberFormatException. */
  private def parseBoost(n: String, tok0: String): Long = {
    require(n.nonEmpty && n.forall(_.isDigit),
      s"boost must be a positive integer in '$tok0', got '^$n' " +
        "(fractional boosts are outside the integer-exact contract)")
    require(n.length <= 2 && n.toInt <= 16,
      s"boost ^$n exceeds the cap of 16 in '$tok0' — larger " +
        "factors overflow the exact-integer scoring headroom " +
        "(16-term expansion clause × 2.2e16 micros × n·1e6 must " +
        "stay under 2^63)")
    require(n.toInt > 0,
      s"boost must be a positive integer in '$tok0', got '^$n' " +
        "(zero would erase the clause — drop it instead)")
    n.toInt.toLong * 1000000L
  }

  private def parseClause(tok0: String, groupField: Option[String],
                          inGroup: Boolean): Clause = {
    if (inGroup)
      require(!tok0.exists(c => c == '(' || c == ')'),
        s"nested groups are outside the supported subset (one level " +
          s"of parentheses): '$tok0'")
    var tok = tok0
    val occur =
      if (tok.startsWith("+")) { tok = tok.drop(1); Must }
      else if (tok.startsWith("-")) { tok = tok.drop(1); MustNot }
      else Should
    require(!tok.startsWith("+") && !tok.startsWith("-"),
      s"doubled +/- prefix on '$tok0'")
    // field prefix: name ':' with the name before any quote, group,
    // or range delimiter (a ':' inside those regions is content)
    val (ownField, body0) = tok.indexOf(':') match {
      case -1 => (None, tok)
      case c if Seq(tok.indexOf('"'), tok.indexOf('('), tok.indexOf('['),
          tok.indexOf('{')).exists(p => p >= 0 && p < c) => (None, tok)
      case c =>
        val f = tok.take(c)
        require(FieldRx.pattern.matcher(f).matches(),
          s"bad field name '$f' in '$tok0'")
        val rest = tok.drop(c + 1)
        require(rest.nonEmpty, s"field '$f:' has no atom in '$tok0'")
        // extra-':' scan over the UNQUOTED region only (a colon inside
        // a quoted phrase is phrase content, not a field separator);
        // group bodies skip it — their inner clauses re-parse and a
        // misplaced field fails by name there — and range bodies skip
        // it too (a ':' inside a bound is bound content; the range
        // grammar validates its own shape)
        if (!rest.startsWith("(") && !rest.startsWith("[") &&
            !rest.startsWith("{")) {
          val outsideQuotes = {
            val sb = new StringBuilder; var inQ = false
            rest.foreach { ch =>
              if (ch == '"') inQ = !inQ else if (!inQ) sb += ch
            }
            sb.toString
          }
          require(!outsideQuotes.contains(':'),
            s"multiple ':' in '$tok0' — one field prefix per clause")
        }
        (Some(f), rest)
    }
    require(!(inGroup && groupField.isDefined && ownField.isDefined),
      s"field clause '$tok0' inside a field-scoped group — the " +
        "group's field already applies to every inner clause")
    val field = ownField.orElse(if (inGroup) groupField else None)
    // ---- parenthesized group (one level) -----------------------------
    if (body0.startsWith("(")) {
      // quote-aware scan for the matching close paren; an inner open
      // paren is a nested group — rejected by name
      var i = 1; var inQ = false; var close = -1
      while (i < body0.length && close < 0) {
        body0(i) match {
          case '"' => inQ = !inQ
          case ')' if !inQ => close = i
          case '(' if !inQ =>
            throw new IllegalArgumentException(
              s"nested groups are outside the supported subset (one " +
                s"level of parentheses): '$tok0'")
          case _ => ()
        }
        i += 1
      }
      require(close > 0, s"unbalanced '(' in '$tok0'")
      val suffix = body0.drop(close + 1)
      val boost =
        if (suffix.isEmpty) 1000000L
        else {
          require(suffix.startsWith("^") && suffix.length > 1,
            s"only '^boost' may follow a group, got '$suffix' in '$tok0'")
          parseBoost(suffix.drop(1), tok0)
        }
      val innerRaw = lex(body0.substring(1, close))
      require(innerRaw.nonEmpty, s"empty group in '$tok0'")
      val inner = parseItems(innerRaw, groupField = field, inGroup = true)
      require(inner.size <= 16,
        s"group has ${inner.size} clauses in '$tok0' — the cap is 16 " +
          "(the exact-integer headroom bound; split the query)")
      require(inner.exists(_.occur != MustNot),
        s"group is all-negative in '$tok0' — nothing would score " +
          "(add a scoring clause inside the group)")
      return Clause(occur, field, GroupAtom(inner), boost)
    }
    require(!body0.exists(c => c == '(' || c == ')'),
      s"grouping parentheses must wrap a whole clause body: '$tok0'")
    // boost suffix: rightmost '^' outside the quote
    val (body1, boost) = body0.lastIndexOf('^') match {
      case -1 => (body0, 1000000L)
      case c if body0.indexOf('"', c) >= 0 =>
        throw new IllegalArgumentException(
          s"'^' inside a phrase in '$tok0' — boost goes after the closing quote")
      case c => (body0.take(c), parseBoost(body0.drop(c + 1), tok0))
    }
    require(body1.nonEmpty, s"empty atom in '$tok0'")
    val atom: Atom =
      if (body1.startsWith("\"")) {
        // "phrase" or "phrase"~slop
        val close = body1.indexOf('"', 1)
        require(close > 0, s"unterminated phrase in '$tok0'")
        val tail = body1.drop(close + 1)
        val slop = if (tail.isEmpty) 0 else {
          require(tail.startsWith("~") && tail.drop(1).nonEmpty &&
              tail.drop(1).forall(_.isDigit) && tail.drop(1).length <= 4,
            s"only '~slop' (a non-negative integer of at most 4 digits) " +
              s"may follow a phrase, got '$tail' in '$tok0'")
          tail.drop(1).toInt
        }
        val words = body1.substring(1, close).split("\\s+")
          .filter(_.nonEmpty).toIndexedSeq
        require(words.nonEmpty, s"empty phrase in '$tok0'")
        if (words.size == 1) TermAtom(words.head) // Lucene: "a" == a
        else PhraseAtom(words, slop)
      } else if (body1.startsWith("[") || body1.startsWith("{")) {
        // term range: [lo TO hi] / {lo TO hi} / mixed brackets
        val last = body1.last
        require(last == ']' || last == '}',
          s"unterminated range in '$tok0' — expected ']' or '}'")
        val parts = body1.substring(1, body1.length - 1).trim
          .split("\\s+").filter(_.nonEmpty).toIndexedSeq
        require(parts.size == 3 && parts(1) == "TO",
          s"range must be '[lo TO hi]' (uppercase TO) in '$tok0'")
        val (lo, hi) = (parts(0), parts(2))
        require(lo != "*" && hi != "*",
          s"open-ended ranges are outside the supported subset: '$tok0' " +
            "(give both bounds)")
        Seq(lo, hi).foreach(b => require(
          !b.exists(c => c == '"' || c == '*' || c == '?' || c == '[' ||
            c == ']' || c == '{' || c == '}'),
          s"range bound '$b' carries quote/wildcard/bracket characters " +
            s"in '$tok0' — bounds are plain terms"))
        RangeAtom(lo, hi, inclLo = body1.head == '[', inclHi = last == ']')
      } else body1.lastIndexOf('~') match {
        case -1 => wordAtom(body1, tok0)
        case c =>
          val t = body1.take(c)
          val dStr = body1.drop(c + 1)
          require(t.nonEmpty, s"'~' with no term in '$tok0'")
          require(!t.exists(ch => ch == '*' || ch == '?'),
            s"fuzzy and wildcard cannot combine in '$tok0'")
          val d = if (dStr.isEmpty) 2 else {
            require(dStr.forall(_.isDigit) && dStr.length == 1,
              s"fuzzy distance must be 1 or 2 (Lucene's cap) in '$tok0'")
            dStr.toInt
          }
          require(d >= 1 && d <= 2,
            s"fuzzy distance must be 1 or 2 (Lucene's cap), got $d in '$tok0'")
          FuzzyAtom(t, d)
      }
    if (inGroup) require(boost == 1000000L,
      s"boost on a group's inner clause '$tok0' is outside the " +
        "supported subset — boost the group itself ('(...)^n')")
    Clause(occur, field, atom, boost)
  }

  private def wordAtom(w: String, tok0: String): Atom = {
    require(!w.contains('"'), s"stray quote in '$tok0'")
    require(!w.exists(c => c == '[' || c == ']' || c == '{' || c == '}'),
      s"range brackets must wrap a whole clause body: '$tok0'")
    val stars = w.count(_ == '*')
    val quests = w.count(_ == '?')
    if (stars == 0 && quests == 0) TermAtom(w)
    else if (stars == 1 && quests == 0 && w.endsWith("*")) {
      require(w.length > 1, s"bare '*' matches everything — rejected ('$tok0')")
      PrefixAtom(w.dropRight(1))
    } else WildcardAtom(w) // searchGlob validates the pattern grammar
  }
}
