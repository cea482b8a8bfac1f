package graft

/** Where the shipped testdata scale factors live (TESTDATA.md). */
object TestData {
  val sf0001: String = "/root/testdata/sf0.001"
  val sf001: String = "/root/testdata/sf0.01"
}
