package graft.bench

/** Parse-proof guard for the bench's one-line JSON driver contract.
  *
  * r13 shipped a bench line the driver archived as `parsed: null` — an
  * unparseable (or unparsed) contract line silently costs a whole round of
  * round-over-round regression visibility (r14 verdict #7, the second round
  * in a row without per-query deltas). The line itself is built by string
  * concatenation (zero cost near the timed path); this guard round-trips it
  * through a strict JSON parser BEFORE it is printed and substitutes a
  * minimal Jackson-BUILT line — valid by construction, still carrying the
  * fields the driver's regression accounting needs (metric/value/unit/
  * queries/sf/reps/errors) — if the full line ever fails to parse. A
  * formatting bug now degrades to reduced telemetry plus an explicit
  * `contract_fallback` marker, never to an unparseable round.
  */
object ContractLine {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    // trailing tokens after the object (a stray print landing on the same
    // line) must fail validation too — the driver reads the WHOLE line
    m.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS, true)
    m
  }

  /** Strict-parse check (Jackson defaults: bare NaN/Infinity tokens — the
    * one way a Double can corrupt a hand-built line — are rejected).
    */
  def parseable(line: String): Boolean =
    try { mapper.readTree(line); true } catch { case _: Exception => false }

  /** Minimal fallback line, serialized by Jackson so it is valid by
    * construction; non-finite doubles are mapped to -1.0 (Jackson would
    * otherwise emit bare NaN tokens itself).
    */
  def fallback(total: Double, queries: Seq[(String, Double)], sf: String,
               reps: Int, errs: Seq[String]): String = {
    def fin(x: Double): Double = if (java.lang.Double.isFinite(x)) x else -1.0
    val root = mapper.createObjectNode()
    root.put("metric", "total")
    root.put("value", fin(total))
    root.put("unit", "sec")
    val q = root.putObject("queries")
    queries.foreach { case (k, v) => q.put(k, fin(v)) }
    root.put("sf", sf)
    root.put("reps", reps)
    val e = root.putArray("errors")
    errs.foreach(e.add)
    root.put("contract_fallback", true)
    mapper.writeValueAsString(root)
  }

  /** `fields` as one JSON object in key order, serialized by Jackson (every
    * string escaped, control characters included).
    */
  def jsonObject(fields: Map[String, String]): String = {
    val root = mapper.createObjectNode()
    fields.toSeq.sorted.foreach { case (k, v) => root.put(k, v) }
    mapper.writeValueAsString(root)
  }

  /** The line to print: `line` when it parses, else `fb`. */
  def ensureParseable(line: String, fb: => String): String =
    if (parseable(line)) line else fb
}
