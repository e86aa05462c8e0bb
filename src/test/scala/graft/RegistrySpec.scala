package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry (`SparkEntry.registry`) and the contract surface the
  * contract mains read from it: `queries` and `oracleSql` project one table,
  * `selected` is the one subset rule, and `oracle_sql.json` is written by
  * Jackson.
  */
class RegistrySpec extends AnyFunSuite {

  test("registry names are distinct and both projections carry the same 336 keys") {
    val names = SparkEntry.registry.map(_.name)
    // a duplicate row would vanish in silence from the projections' toMap
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: ${dups.mkString(", ")}")
    assert(names.size === 336)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql.keySet === names.toSet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("the subset rule selects by name prefix, and selects all without a filter") {
    assert(SparkEntry.selected(Some("q38,q59")).keySet ===
      Set("q38_neardup_jaccard", "q59_simhash_neardup"))
    assert(SparkEntry.selected(Some("zzz")).isEmpty)
    assert(SparkEntry.selected(None).keySet === SparkEntry.queries.keySet)
  }

  test("oracle_sql.json is a strict JSON object that round-trips every string") {
    val fields = Map("q_tab" -> "a\tb", "q_ctl" -> "x\u0001y\r\n", "q_q" -> "say \"hi\" \\ ok")
    val json = bench.ContractLine.jsonObject(fields)
    assert(bench.ContractLine.parseable(json))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(fields.forall { case (k, v) => tree.get(k).asText() == v })
    assert(tree.size() === fields.size)
  }
}
