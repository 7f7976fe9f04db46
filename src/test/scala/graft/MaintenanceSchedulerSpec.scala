package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.MaintenanceScheduler

/** The scheduler's decision log, with no Spark session and no writers. */
class MaintenanceSchedulerSpec extends AnyFunSuite {

  test("a throwing policy aborts the window but keeps the decisions logged before it") {
    val scheduler = new MaintenanceScheduler
    scheduler.register("p1")(() => (1.0, false))
    scheduler.register("p2")(() => throw new IllegalStateException("p2 failed"))
    intercept[IllegalStateException](scheduler.maintenanceWindow())
    assert(scheduler.decisions == Seq(scheduler.Decision(1, "p1", 1.0, false)))
  }
}
