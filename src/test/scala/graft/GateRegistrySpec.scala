package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-level invariants (no SparkSession needed): the driver's
  * correctness gate hash-compares every query against DuckDB, so a gate
  * without an oracle silently downgrades to a rows-only check — this spec
  * makes that a test failure instead.
  */
class GateRegistrySpec extends AnyFunSuite {

  test("gate names are unique") {
    val names = Gate.all.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicates: ${names.diff(names.distinct).distinct}")
  }

  test("every gate carries a DuckDB oracle") {
    val missing = Gate.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"gates without oracle: $missing")
  }

  test("oracle SQL never references the staging views only Spark sees") {
    // oracles run in DuckDB over the raw parquet tables; a Spark-side
    // temp-view name leaking into one would fail only at driver time
    val views = Seq("lineitem_v", "lineitem_gs", "embeddings_v", "gate_bkt_")
    val bad = Gate.all
      .filter(g => g.oracle.exists(o => views.exists(o.contains)))
      .map(_.name)
    assert(bad.isEmpty, s"oracles referencing Spark temp views: $bad")
  }

  test("every oracle is fully composed: no unspliced ${, no margin " +
    "line, parentheses balanced outside quoted literals") {
    // a fragment spliced into a plain """…""" (not s"""…""") stays a
    // literal ${…}; one whose literal lost .stripMargin keeps its
    // margins; a dropped or doubled paren at a fragment seam would
    // otherwise show up only when DuckDB parses the oracle
    def parensBalanced(sql: String): Boolean = {
      var depth = 0
      var quoted = false
      var closedUnopened = false
      sql.foreach {
        case '\'' => quoted = !quoted
        case '(' if !quoted => depth += 1
        case ')' if !quoted =>
          depth -= 1
          if (depth < 0) closedUnopened = true
        case _ =>
      }
      !closedUnopened && depth == 0 && !quoted
    }
    val bad = Gate.all.flatMap(g => g.oracle.toSeq.flatMap { o =>
      Seq(
        Option.when(o.contains("${"))("literal ${"),
        // SQL's `||` may open a line; a lone `|` is a margin left over
        Option.when(o.linesIterator.map(_.trim).exists(l =>
          l.startsWith("|") && !l.startsWith("||")))("margin |"),
        Option.when(!parensBalanced(o))("unbalanced parentheses"),
      ).flatten.map(why => s"${g.name}: $why")
    })
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every bench headline name is a live gate") {
    val names = Gate.all.map(_.name).toSet
    val dead = Bench.headline.filterNot(names)
    assert(dead.isEmpty, s"headline entries with no gate: $dead")
  }

  test("every headline-trimmed tracked name is a live gate, disjoint " +
    "from the headline") {
    val names = Gate.all.map(_.name).toSet
    val dead = Bench.trimmedTracked.filterNot(names)
    assert(dead.isEmpty, s"trimmedTracked entries with no gate: $dead")
    // a name back in the headline must leave the trimmed list — two
    // overlapping pins would let a later trim silently drop one
    val both = Bench.trimmedTracked.intersect(Bench.headline)
    assert(both.isEmpty, s"pinned in both headline and trimmedTracked: $both")
  }

  test("every bench heavy name is a live gate") {
    val names = Gate.all.map(_.name).toSet
    val dead = Bench.heavy.filterNot(names)
    assert(dead.isEmpty, s"heavy entries with no gate: $dead")
  }

  test("every isolated-mode name is a live gate that SPARK_GRAFT_ONLY " +
    "resolves to exactly one gate") {
    val names = Gate.all.map(_.name)
    Bench.isolatedSet.foreach { n =>
      // the child is launched with ONLY=<n>; an exact gate name matches
      // only itself (exact-match-wins filter semantics), so the only
      // requirement is that the name IS a live gate
      val matched =
        if (names.contains(n)) Seq(n) else names.filter(_.contains(n))
      assert(matched == Seq(n), s"$n matches $matched")
    }
  }

  test("SPARK_GRAFT_ONLY: an exact gate name selects only that gate, " +
    "any other token selects by substring") {
    val names = Gate.all.map(_.name)
    def sel(only: String) = names.filter(Gate.select(Some(only)))
    assert(sel("q_paragraph_dedup") == Seq("q_paragraph_dedup"))
    assert(Set("q_paragraph_dedup", "q_paragraph_dedup_inc")
      .subsetOf(sel("paragraph").toSet))
    assert(sel("paragraph").forall(_.contains("paragraph")))
    assert(sel("q_takedown,q_daily_rollup").toSet ==
      Set("q_takedown", "q_daily_rollup"))
    assert(names.filter(Gate.select(None)) == names)
  }

  test("every scale-probe name is a live gate, and warmBig is part of the " +
    "data probe set") {
    val names = Gate.all.map(_.name).toSet
    Seq("data" -> ScaleProbe.dataProbe, "cores" -> ScaleProbe.coresProbe,
      "warmBig" -> ScaleProbe.warmBig.toSeq).foreach { case (set, probe) =>
      val dead = probe.filterNot(names)
      assert(dead.isEmpty, s"$set probe entries with no gate: $dead")
      assert(probe.distinct.size == probe.size, s"$set probe repeats a name")
    }
    val stray = ScaleProbe.warmBig.filterNot(ScaleProbe.dataProbe.toSet)
    assert(stray.isEmpty, s"warmBig entries outside the data probe: $stray")
  }

  test("SparkEntry exposes exactly the gate registry") {
    assert(SparkEntry.queries.keySet == Gate.all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet ==
      Gate.all.filter(_.oracle.isDefined).map(_.name).toSet)
  }
}
