package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene: the driver grades by name, so an oracle entry
  * without a query, or two modules claiming the same query name (map ++
  * silently keeps the later one), would corrupt the correctness gate
  * without any compile error. */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("no query name is registered by two modules") {
    val moduleMaps: Seq[(String, Set[String])] = Seq(
      "relational.Core"      -> relational.Core.queries.keySet,
      "relational.Breadth"   -> relational.Breadth.queries.keySet,
      "relational.Events"    -> relational.Events.queries.keySet,
      "relational.Extra"     -> relational.Extra.queries.keySet,
      "relational.Extra2"    -> relational.Extra2.queries.keySet,
      "relational.Analytics" -> relational.Analytics.queries.keySet,
      "relational.Stats"     -> relational.Stats.queries.keySet,
      "relational.Extra3"    -> relational.Extra3.queries.keySet,
      "relational.Layout"    -> relational.Layout.queries.keySet,
      "relational.Graph"     -> relational.Graph.queries.keySet,
      "relational.Ranges"    -> relational.Ranges.queries.keySet,
      "llm.TextOps"          -> llm.TextOps.queries.keySet,
      "llm.Similarity"       -> llm.Similarity.queries.keySet,
      "rounds.Stratify"      -> rounds.Stratify.queries.keySet,
      "queue.Derived"        -> queue.Derived.queries.keySet,
      "streaming.Registered" -> streaming.Registered.queries.keySet,
      "llm.Dedup"            -> llm.Dedup.queries.keySet,
      "llm.Multimodal"       -> llm.Multimodal.queries.keySet,
      "llm.Corpus"           -> llm.Corpus.queries.keySet,
      "plans.TopK"           -> plans.TopK.queries.keySet,
      "plans.AsOf"           -> plans.AsOf.queries.keySet,
      "llm.Pipeline"         -> llm.Pipeline.queries.keySet)
    val dups = moduleMaps.flatMap { case (m, ks) => ks.map(_ -> m) }
      .groupBy(_._1).filter(_._2.length > 1)
      .map { case (k, ms) => s"$k in ${ms.map(_._2).mkString(", ")}" }
    assert(dups.isEmpty, s"query names registered twice: $dups")
    assert(moduleMaps.map(_._2.size).sum == SparkEntry.queries.size)
  }

  test("query names are well-formed and unique-prefixed") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("q\\d+_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed query names: $bad")
    val nums = SparkEntry.queries.keySet.toSeq
      .map(_.split("_")(0)).groupBy(identity).filter(_._2.length > 1)
    assert(nums.isEmpty, s"duplicate query numbers: ${nums.keySet}")
  }
}
