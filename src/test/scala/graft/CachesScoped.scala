package graft

import org.scalatest.{Outcome, TestSuite}

/** Runs each test of a suite inside its own [[Caches.scoped]] block, so
  * the pins and checkpoints the operators under test register are
  * released when the test ends, pass or fail.
  */
trait CachesScoped extends TestSuite {
  override def withFixture(test: NoArgTest): Outcome =
    Caches.scoped(super.withFixture(test))
}
