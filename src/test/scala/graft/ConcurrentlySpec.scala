package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Concurrently

/** The fan-out helper the medallion stages run their
  * independent units through: input-order results, every sibling
  * finished before a failure surfaces, and Spark local properties
  * inherited by the worker threads. */
class ConcurrentlySpec extends SparkSpec {

  test("results come back in input order, whatever order the thunks finish in") {
    val thunks = (0 until 5).map(i => () => { Thread.sleep(50L * (5 - i)); i * 10 })
    Concurrently.all(thunks) shouldBe Seq(0, 10, 20, 30, 40)
    Concurrently.all(Seq.empty[() => Int]) shouldBe empty
  }

  test("a failure surfaces after every sibling finished: first in input order, unwrapped") {
    final class Boom(msg: String) extends RuntimeException(msg)
    val finished = new AtomicInteger
    val first = new Boom("first")
    def unit(sleepMs: Long, fail: Option[Throwable]): () => Int = () =>
      try {
        Thread.sleep(sleepMs)
        fail.foreach(e => throw e)
        1
      } finally finished.incrementAndGet()
    val thrown = intercept[Boom] {
      Concurrently.all(Seq(
        unit(300, None),
        unit(150, Some(first)),
        unit(0, Some(new Boom("second, but it fails sooner"))),
        unit(500, None)))
    }
    thrown should be theSameInstanceAs first
    finished.get shouldBe 4
  }

  test("a Spark local property of the calling thread is visible inside every thunk") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.concurrently.probe", "caller")
    try {
      val seen = Concurrently.all((1 to 4).map(_ => () =>
        sc.getLocalProperty("graft.concurrently.probe")))
      seen shouldBe Seq.fill(4)("caller")
    } finally sc.setLocalProperty("graft.concurrently.probe", null)
  }
}
