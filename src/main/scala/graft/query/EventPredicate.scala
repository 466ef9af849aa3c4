package graft.query

import java.util.regex.Pattern

import graft.query.QueryLanguage._
import graft.streaming.WireEvent

/** The serving-path query evaluator: compiles a parsed query AST to a
  * plain closure over [[WireEvent]], so the in-memory index answers
  * wire / ws / sse queries WITHOUT scheduling a Spark job per query —
  * the reference answers from an in-memory map through an LRU cache of
  * eval'd predicate fns (query.clj:193-216) and serves thousands of
  * queries per second; a per-query Catalyst plan caps out at tens.
  *
  * Semantics mirror [[QueryLanguage.compile]] against the
  * [[WireEvent]] schema: host/service/state strings, metric/ttl
  * doubles, time timestamp, the tags array (`tagged "x"` is a real
  * membership test) and the attributes map, through which a field
  * outside the schema resolves (`paws = 4`; absent ≈ nil). A null
  * container answers as the null column of a relation without it:
  * `tags = nil` is true and `tagged "x"` false. EventPredicateSpec pins
  * closure == Catalyst on randomized queries over randomized
  * snapshots, and the Catalyst path stays on as the oracle.
  * Three-valued logic is preserved: the node evaluator returns
  * java.lang.Boolean with null for SQL NULL, coalesced to false at the
  * top exactly like the compiled Column. */
object EventPredicate {

  /** LRU over compiled closures, keyed by query text — the reference's
    * `(memoize-fn parse-string)` LRU (query.clj:193-216). Serving
    * threads hit this on every wire query; synchronized access on an
    * access-ordered LinkedHashMap is ~50 ns, noise next to evaluation. */
  private val MaxCached = 1024
  private val cache =
    new java.util.LinkedHashMap[String, WireEvent => Boolean](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, WireEvent => Boolean]): Boolean =
        size() > MaxCached
    }

  /** Attribute lookup for an unknown field — QueryLanguage.compile's
    * `attributes[name]` resolution (field absent ≈ nil). */
  private def attr(e: WireEvent, name: String): String =
    if (e.attributes == null) null else e.attributes.getOrElse(name, null)

  /** Parse + compile, LRU-cached. Throws ParseException on bad input
    * (callers reply `parse error: …` like transport.clj). */
  def apply(query: String): WireEvent => Boolean = {
    cache.synchronized {
      val hit = cache.get(query)
      if (hit != null) return hit
    }
    forAst(query, QueryLanguage.parse(query))
  }

  /** Same, for a caller that already parsed (the wire handler parses
    * once for validation + the pkey fast path — don't parse again). */
  def forAst(query: String, ast: Ast): WireEvent => Boolean = {
    cache.synchronized {
      val hit = cache.get(query)
      if (hit != null) return hit
    }
    val compiled = compile(ast)
    cache.synchronized(cache.put(query, compiled))
    compiled
  }

  /** The index pkey fast path (reference index.clj:44-56): a query of
    * exactly `host = "h" and service = "s"` (either conjunct / operand
    * order) is a point lookup, not a scan. */
  def pkeyLookup(ast: Ast): Option[(String, String)] = {
    def strEq(c: Ast, field: String): Option[String] = c match {
      case Cmp("=", FieldRef(`field`), StrLit(v)) => Some(v)
      case Cmp("=", StrLit(v), FieldRef(`field`)) => Some(v)
      case _ => None
    }
    ast match {
      case And(l, r) =>
        (for (h <- strEq(l, "host"); s <- strEq(r, "service")) yield (h, s))
          .orElse(
            for (h <- strEq(r, "host"); s <- strEq(l, "service")) yield (h, s))
      case _ => None
    }
  }

  // ------------------------------------------------------------ compiler

  /** Compile an AST to a closure; evaluation allocates nothing beyond
    * boxed booleans. */
  def compile(ast: Ast): WireEvent => Boolean = {
    val root = bool(ast)
    // coalesce(pred, false), as QueryLanguage.compile's top level
    e => { val v = root(e); v != null && v.booleanValue() }
  }

  private type Val = Any // null | String | java.lang.Double | java.lang.Long
                         // | java.lang.Boolean | java.sql.Timestamp

  private val knownFields =
    Set("host", "service", "state", "metric", "time", "ttl", "tags",
      "attributes")

  private def isNumericAst(a: Ast): Boolean = a match {
    case _: LongLit | _: DoubleLit | _: BigLit => true
    case FieldRef(f) => f == "metric" || f == "ttl"
    case _ => false
  }
  private def isStringish(a: Ast): Boolean = a match {
    case _: StrLit => true
    case FieldRef(f) => !knownFields.contains(f) ||
      f == "host" || f == "service" || f == "state"
    case _ => false
  }

  /** try_cast(string as double) — Spark trims, then Java parseDouble. */
  private def tryDouble(s: String): java.lang.Double = {
    val t = s.trim
    if (t.isEmpty) null
    else try java.lang.Double.valueOf(t)
    catch { case _: NumberFormatException => null }
  }

  /** cast(string as boolean) — Spark's StringUtils.toBoolean table. */
  private def strToBool(s: String): java.lang.Boolean =
    s.trim.toLowerCase match {
      case "t" | "true" | "y" | "yes" | "1" => java.lang.Boolean.TRUE
      case "f" | "false" | "n" | "no" | "0" => java.lang.Boolean.FALSE
      case _ => null
    }

  /** Numeric rendering (QueryLanguage.compile's `numeric`): null when
    * not a number; timestamp → unix seconds (floor, like
    * unix_timestamp). */
  private def numeric(a: Ast): WireEvent => java.lang.Double = a match {
    case LongLit(v) => val d = java.lang.Double.valueOf(v.toDouble); _ => d
    case DoubleLit(v) => val d = java.lang.Double.valueOf(v); _ => d
    case BigLit(v) => val d = java.lang.Double.valueOf(v.toDouble); _ => d
    case StrLit(v) => val d = tryDouble(v); _ => d
    case FieldRef("metric") => e =>
      if (e.metric.isDefined) java.lang.Double.valueOf(e.metric.get) else null
    case FieldRef("ttl") => e =>
      if (e.ttl.isDefined) java.lang.Double.valueOf(e.ttl.get) else null
    case FieldRef("time") => e =>
      if (e.time == null) null
      else java.lang.Double.valueOf(
        Math.floorDiv(e.time.getTime, 1000L).toDouble)
    case FieldRef("host") => e =>
      if (e.host == null) null else tryDouble(e.host)
    case FieldRef("service") => e =>
      if (e.service == null) null else tryDouble(e.service)
    case FieldRef("state") => e =>
      if (e.state == null) null else tryDouble(e.state)
    case FieldRef(f @ ("tags" | "attributes")) =>
      // Catalyst's try_cast(array/map as double) is an analysis-time
      // type error, not a null — fail at compile like the oracle
      throw new IllegalArgumentException(
        s"cannot cast $f to a number (Catalyst rejects this too)")
    case FieldRef(f) if !knownFields.contains(f) => e => {
      val v = attr(e, f) // attributes[f], try-cast to double
      if (v == null) null else tryDouble(v)
    }
    case _ => _ => null
  }

  /** General value rendering (QueryLanguage.compile's `render`). */
  private def render(a: Ast): WireEvent => Val = a match {
    case BoolLit(v) => val b = java.lang.Boolean.valueOf(v); _ => b
    case NullLit => _ => null
    case LongLit(v) => val l = java.lang.Long.valueOf(v); _ => l
    case DoubleLit(v) => val d = java.lang.Double.valueOf(v); _ => d
    case BigLit(v) => val d = java.lang.Double.valueOf(v.toDouble); _ => d
    case StrLit(v) => _ => v
    case FieldRef("host") => e => e.host
    case FieldRef("service") => e => e.service
    case FieldRef("state") => e => e.state
    case FieldRef("metric") => e =>
      if (e.metric.isDefined) java.lang.Double.valueOf(e.metric.get) else null
    case FieldRef("time") => e => e.time
    case FieldRef("ttl") => e =>
      if (e.ttl.isDefined) java.lang.Double.valueOf(e.ttl.get) else null
    case FieldRef("tags") => e => e.tags // array: equality throws via
                                         // nullSafeEq, like Catalyst
    case FieldRef("attributes") => e => e.attributes // map: same
    case FieldRef(f) => e => attr(e, f) // attributes[f]; absent ≈ nil
    case other => throw ParseException(s"not a value: $other")
  }

  /** Null-safe `<=>` with Catalyst's binary-comparison coercions over
    * the value types a WireEvent can produce. */
  private def nullSafeEq(l: Val, r: Val): Boolean = (l, r) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (a: String, b: String) => a == b
    case (a: java.lang.Boolean, b: java.lang.Boolean) => a == b
    // string vs boolean: Catalyst casts the string side to boolean
    case (a: String, b: java.lang.Boolean) => strToBool(a) == b
    case (a: java.lang.Boolean, b: String) => a == strToBool(b)
    case (a: java.lang.Long, b: java.lang.Long) => a.longValue == b.longValue
    case (a: Number, b: Number) => a.doubleValue == b.doubleValue
    // timestamp vs integral/fractional: cast the number to timestamp
    // (seconds), i.e. compare at microsecond precision
    case (a: java.sql.Timestamp, b: java.lang.Long) =>
      a.getTime == b.longValue * 1000L
    case (a: java.lang.Long, b: java.sql.Timestamp) =>
      b.getTime == a.longValue * 1000L
    case (a: java.sql.Timestamp, b: java.lang.Double) =>
      a.getTime * 1000L == (b.doubleValue * 1e6).toLong
    case (a: java.lang.Double, b: java.sql.Timestamp) =>
      b.getTime * 1000L == (a.doubleValue * 1e6).toLong
    case (a: java.sql.Timestamp, b: java.sql.Timestamp) => a == b
    // timestamp vs string: Catalyst casts the string to timestamp
    case (a: java.sql.Timestamp, b: String) =>
      strToTimestamp(b).contains(a.getTime)
    case (a: String, b: java.sql.Timestamp) =>
      strToTimestamp(a).contains(b.getTime)
    case (a, b) => throw new IllegalArgumentException(
      s"cannot compare ${a.getClass.getSimpleName} with " +
        s"${b.getClass.getSimpleName} (Catalyst rejects this too)")
  }

  /** cast(string as timestamp) in the pinned UTC session zone (never
    * the JVM default — Timestamp.valueOf would shift by the host's
    * offset) — the shapes Spark accepts for query literals:
    * `yyyy-MM-dd[ HH:mm:ss[.fraction]][Z]`, 'T' separator allowed. */
  private def strToTimestamp(s: String): Option[Long] =
    try {
      var t = s.trim.replace('T', ' ')
      if (t.endsWith("Z")) t = t.dropRight(1).trim
      val (datePart, timePart) =
        if (t.length == 10) (t, "00:00:00") else (t.take(10), t.drop(11))
      val ld = java.time.LocalDate.parse(datePart)
      val lt = java.time.LocalTime.parse(
        if (timePart.length == 5) timePart + ":00" else timePart)
      Some(java.time.LocalDateTime.of(ld, lt)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
    } catch { case _: java.time.format.DateTimeParseException => None
      case _: StringIndexOutOfBoundsException => None }

  private def isTimestampAst(a: Ast): Boolean = a match {
    case FieldRef("time") => true
    case _ => false
  }

  private def isBoolAst(a: Ast): Boolean = a match {
    case _: BoolLit => true
    case _ => false // no boolean columns in WireEvent
  }

  private def eq(l: Ast, r: Ast): WireEvent => java.lang.Boolean = {
    // type-strict boolean equality (QueryLanguage.eq): a boolean never
    // equals a string/number; nil falls through to nullSafeEq → false
    if ((isBoolAst(l) && !isBoolAst(r) && r != NullLit) ||
        (isBoolAst(r) && !isBoolAst(l) && l != NullLit))
      _ => java.lang.Boolean.FALSE
    else if ((isNumericAst(l) && isStringish(r)) ||
        (isNumericAst(r) && isStringish(l)) ||
        // time = <number> compares unix seconds (QueryLanguage.eq)
        (isTimestampAst(l) && isNumericAst(r)) ||
        (isTimestampAst(r) && isNumericAst(l))) {
      val (nl, nr) = (numeric(l), numeric(r))
      e => {
        val (a, b) = (nl(e), nr(e))
        java.lang.Boolean.valueOf(
          if (a == null && b == null) true
          else if (a == null || b == null) false
          else a.doubleValue == b.doubleValue)
      }
    } else {
      val (rl, rr) = (render(l), render(r))
      e => java.lang.Boolean.valueOf(nullSafeEq(rl(e), rr(e)))
    }
  }

  /** SQL LIKE compiled as the reference's `=~` (% wildcard, everything
    * else literal — QueryLanguage escapes `_` before `.like`), DOTALL
    * and fully anchored like Spark's Like. */
  private def likeRegex(pat: String): Pattern =
    Pattern.compile("(?s)" +
      pat.split("%", -1).map(Pattern.quote).mkString(".*"))

  private val TsOutFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** Catalyst's implicit cast-to-string for a LIKE/RLIKE target —
    * timestamps render in the pinned UTC zone with the zero fraction
    * OMITTED and trailing fraction zeros trimmed, exactly as Spark's
    * cast does (Timestamp.toString would print "…:20.0" and use the
    * JVM default zone, diverging from the oracle). */
  private def asString(v: Val): String = v match {
    case null => null
    case s: String => s
    // LIKE/RLIKE over an array/map is an analysis-time type error in
    // Catalyst — never a Seq.toString rendering
    case c @ (_: Seq[_] | _: Map[_, _]) => throw new IllegalArgumentException(
      s"cannot pattern-match over ${c.getClass.getSimpleName} " +
        "(Catalyst rejects this too)")
    case t: java.sql.Timestamp =>
      val base = TsOutFmt.format(t.toInstant)
      val ms = Math.floorMod(t.getTime, 1000L)
      if (ms == 0L) base
      else base + "." + f"$ms%03d".reverse.dropWhile(_ == '0').reverse
    case d: java.lang.Double => d.toString
    case other => other.toString
  }

  private def bool(a: Ast): WireEvent => java.lang.Boolean = a match {
    case And(l, r) =>
      val (bl, br) = (bool(l), bool(r))
      e => {
        val x = bl(e)
        if (x != null && !x.booleanValue) java.lang.Boolean.FALSE
        else {
          val y = br(e)
          if (y != null && !y.booleanValue) java.lang.Boolean.FALSE
          else if (x == null || y == null) null
          else java.lang.Boolean.TRUE
        }
      }
    case Or(l, r) =>
      val (bl, br) = (bool(l), bool(r))
      e => {
        val x = bl(e)
        if (x != null && x.booleanValue) java.lang.Boolean.TRUE
        else {
          val y = br(e)
          if (y != null && y.booleanValue) java.lang.Boolean.TRUE
          else if (x == null || y == null) null
          else java.lang.Boolean.FALSE
        }
      }
    case Not(p) =>
      // !coalesce(bool(p), false): null → true, like the Column form
      val bp = bool(p)
      e => {
        val v = bp(e)
        java.lang.Boolean.valueOf(v == null || !v.booleanValue)
      }
    case Cmp("=", l, r) => eq(l, r)
    case Cmp("!=", l, r) =>
      val base = eq(l, r)
      e => java.lang.Boolean.valueOf(!base(e).booleanValue)
    case Cmp(op, l, r) =>
      val (nl, nr) = (numeric(l), numeric(r))
      val cmp: (Double, Double) => Boolean = op match {
        case "<" => _ < _
        case ">" => _ > _
        case "<=" => _ <= _
        case ">=" => _ >= _
      }
      e => {
        val (a, b) = (nl(e), nr(e))
        // numeric guard: null operand → false (query.clj:124-132)
        java.lang.Boolean.valueOf(
          a != null && b != null && cmp(a.doubleValue, b.doubleValue))
      }
    case LikeMatch(t, pat) =>
      val rt = render(t)
      val rx = likeRegex(pat)
      e => {
        val s = asString(rt(e))
        if (s == null) null
        else java.lang.Boolean.valueOf(rx.matcher(s).matches())
      }
    case RegexMatch(t, pat) =>
      val rt = render(t)
      val rx = Pattern.compile(pat)
      e => {
        val s = asString(rt(e))
        if (s == null) null
        else java.lang.Boolean.valueOf(rx.matcher(s).find()) // unanchored
      }
    case Tagged(t) => e => java.lang.Boolean.valueOf(
      e.tags != null && e.tags.contains(t))
    case BoolLit(v) =>
      val b = java.lang.Boolean.valueOf(v); _ => b
    case NullLit => _ => java.lang.Boolean.FALSE
    case StrLit(_) | LongLit(_) | DoubleLit(_) | BigLit(_) =>
      _ => java.lang.Boolean.TRUE
    case FieldRef(f) =>
      // truthiness = non-nil (resolve(f).isNotNull); no boolean columns
      f match {
        case "host" => e => java.lang.Boolean.valueOf(e.host != null)
        case "service" => e => java.lang.Boolean.valueOf(e.service != null)
        case "state" => e => java.lang.Boolean.valueOf(e.state != null)
        case "metric" => e => java.lang.Boolean.valueOf(e.metric.isDefined)
        case "time" => e => java.lang.Boolean.valueOf(e.time != null)
        case "ttl" => e => java.lang.Boolean.valueOf(e.ttl.isDefined)
        case "tags" => e => java.lang.Boolean.valueOf(e.tags != null)
        case "attributes" =>
          e => java.lang.Boolean.valueOf(e.attributes != null)
        case other => e => java.lang.Boolean.valueOf(attr(e, other) != null)
      }
  }
}
