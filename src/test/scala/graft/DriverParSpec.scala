package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DriverPar

/** `DriverPar.par2` keeps the failure surface of sequential code: it
  * never returns or throws while its pooled side is still running. */
class DriverParSpec extends AnyFunSuite {

  test("par2 waits for a before rethrowing b's failure") {
    val aDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      DriverPar.par2({ Thread.sleep(300); aDone.set(true) },
        throw new IllegalStateException("b"))
    }
    assert(e.getMessage == "b")
    assert(aDone.get, "par2 returned while a was still running")
  }

  test("par2 attaches a's failure to b's as suppressed") {
    // with the sequential kill-switch on, a's failure simply comes first
    assume(!sys.env.contains("SPARK_GRAFT_NO_PAR"))
    val e = intercept[IllegalStateException] {
      DriverPar.par2({ Thread.sleep(100); throw new ArithmeticException("a") },
        throw new IllegalStateException("b"))
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("a"))
  }

  test("par2 propagates a's failure when b succeeds, and returns both otherwise") {
    val e = intercept[ArithmeticException] {
      DriverPar.par2(throw new ArithmeticException("a"), 2)
    }
    assert(e.getMessage == "a")
    assert(DriverPar.par2(1, "b") == ((1, "b")))
  }
}
