package graft.substrate

import org.scalatest.funsuite.AnyFunSuite

/** The claim stripe both durable stores serialize on: every spelling of
  * one base must land on the same stripe, or a publish addressing
  * "/x/t" and a purge addressing "file:/x/t" would not serialize.
  */
class CommitLogSpec extends AnyFunSuite {

  test("a raw and a qualified spelling of one base share a claim stripe") {
    for (v <- Seq(0L, 1L, 7L, 123456789L))
      assert(CommitLog.stripe("/x/t", v) eq CommitLog.stripe("file:/x/t", v),
        s"v=$v: /x/t and file:/x/t must take the same stripe")
  }
}
