package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Cli.parse` is pure: every case here runs without a session. */
class CliSpec extends AnyFunSuite {
  import Cli.{Plan, Time}
  private val q = "q1_pricing_summary"

  test("time, profile and plan parse into their commands") {
    Seq(
      Seq("time", "sf", "3", q, "sort_limit") -> Time("sf", 3, Seq(q, "sort_limit"), profile = false),
      Seq("profile", "sf", "1", q) -> Time("sf", 1, Seq(q), profile = true),
      Seq("plan", "sf", "-", q) -> Plan("sf", "-", Seq(q), executed = false),
      Seq("plan", "--final", "sf", "out", q) -> Plan("sf", "out", Seq(q), executed = true),
    ).foreach { case (args, cmd) => assert(Cli.parse(args) == Right(cmd)) }
  }

  test("wrong arity, bad reps, unknown queries and commands are rejected") {
    Seq(
      Seq(), Seq("time"), Seq("time", "sf", "3"), Seq("plan", "sf", "-"),
      Seq("plan", "--final", "sf", "-"), Seq("run", "sf", "1", q),
      Seq("time", "sf", "0", q), Seq("time", "sf", "-2", q),
      Seq("profile", "sf", "x", q), Seq("time", "sf", "1.5", q),
      Seq("time", "sf", "2", q, "no_such_query"), Seq("plan", "sf", "-", "no_such_query"),
    ).foreach(args => assert(Cli.parse(args).isLeft, args))
  }
}
