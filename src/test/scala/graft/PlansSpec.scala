package graft

/** Pins `Plans.normalize`: two runs of the same plan print the same text. */
class PlansSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("expression and exchange ids renumber by first appearance, references kept") {
    val run1 = "Project [a#12L, b#7]\n+- Exchange hashpartitioning(a#12L, 32), [plan_id=40]\n" +
      "   +- Filter (b#7 > a#12L), [plan_id=41]"
    val run2 = "Project [a#300L, b#299]\n+- Exchange hashpartitioning(a#300L, 32), [plan_id=9]\n" +
      "   +- Filter (b#299 > a#300L), [plan_id=10]"
    val expect = "Project [a#0L, b#1]\n+- Exchange hashpartitioning(a#0L, 32), [plan_id=0]\n" +
      "   +- Filter (b#1 > a#0L), [plan_id=1]"
    assert(Plans.normalize(run1) == expect)
    assert(Plans.normalize(run2) == expect)
  }

  test("AQE stages and codegen stages renumber by first appearance") {
    val run1 = "ResultQueryStage 5\n+- *(7) Sort [a#1]\n   +- ShuffleQueryStage 4\n" +
      "      +- *(6) Project [a#1]\n   +- BroadcastQueryStage 3"
    val run2 = "ResultQueryStage 5\n+- *(5) Sort [a#1]\n   +- ShuffleQueryStage 3\n" +
      "      +- *(7) Project [a#1]\n   +- BroadcastQueryStage 4"
    val expect = "ResultQueryStage 0\n+- *(0) Sort [a#0]\n   +- ShuffleQueryStage 1\n" +
      "      +- *(1) Project [a#0]\n   +- BroadcastQueryStage 2"
    assert(Plans.normalize(run1) == expect)
    assert(Plans.normalize(run2) == expect)
  }

  test("run ids, lambda classes, identity hashes and session-tagged dirs are masked") {
    val plan = "TransformWithStateExec graft.streaming.StreamOps$FrontierProcessor@3dbeb861, " +
      "state info [ checkpoint = , runId = a9e10773-8b19-4521-92eb-5f280b19502b, opId = 0 ] " +
      "stateStoreCkptIds = None, 1792427813392, None\n" +
      "AppendColumns graft.streaming.StreamOps$$$Lambda$7396/0x00007fb799b8d438@6a75c968, x#4\n" +
      "BatchScan zipnum:/tmp/graft_fmt/sf0.1/zipnum_shared_8aa1238b479f[urlkey#5]"
    assert(Plans.normalize(plan) ==
      "TransformWithStateExec graft.streaming.StreamOps$FrontierProcessor@<hash>, " +
      "state info [ checkpoint = , runId = <runId>, opId = 0 ] " +
      "stateStoreCkptIds = None, <batchTimestampMs>, None\n" +
      "AppendColumns graft.streaming.StreamOps$$$Lambda@<hash>, x#0\n" +
      "BatchScan zipnum:/tmp/graft_fmt/sf0.1/zipnum_shared_<tag>[urlkey#1]")
  }
}
