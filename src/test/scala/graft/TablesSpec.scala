package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.cpuSpread]]'s width arithmetic: one partition per quantum,
  * capped at the core count, floored at 2 only when there are 2 cores. */
class TablesSpec extends AnyFunSuite {
  private val q = Tables.SpreadQuantumBytes

  test("spread width on one core is 1: no shuffle that cannot add parallelism") {
    assert(Tables.spreadWidth(BigInt(0), q, par = 1) === 1)
    assert(Tables.spreadWidth(BigInt(q) * 100, q, par = 1) === 1)
  }

  test("spread width is floored at 2 and capped at the core count") {
    assert(Tables.spreadWidth(BigInt(0), q, par = 4) === 2)
    assert(Tables.spreadWidth(BigInt(q) * 3 - 1, q, par = 4) === 3)
    assert(Tables.spreadWidth(BigInt(q) * 100, q, par = 4) === 4)
  }
}
