package graft.sources

import java.io.{IOException, UncheckedIOException}
import java.nio.file.NoSuchFileException

import org.scalatest.funsuite.AnyFunSuite

/** The one optimistic-commit loop, `VersionedTable.rebasing`: which
  * thrown shapes each race predicate retries, the attempt bound, and
  * what passes straight through. */
class RebasingSpec extends AnyFunSuite {
  import VersionedTable.{headMoved, layoutMoved, rebasing}

  /** (label, thrown shape, retried on head moved, retried on layout
    * moved) */
  private val shapes: Seq[(String, () => Exception, Boolean, Boolean)] = Seq(
    ("ConcurrentCommit", () => new VersionedTable.ConcurrentCommit(7),
      true, false),
    ("bare NoSuchFileException", () => new NoSuchFileException("v7.json"),
      true, false),
    ("UncheckedIOException(NoSuchFileException)",
      () => new UncheckedIOException(new NoSuchFileException("part-0")),
      true, false),
    ("UncheckedIOException(IOException)",
      () => new UncheckedIOException(new IOException("disk")),
      false, false),
    ("PartitionCountChanged",
      () => new VersionedTable.PartitionCountChanged(8, 4),
      false, true),
    ("IllegalStateException", () => new IllegalStateException("bug"),
      false, false))

  private val races: Seq[(String, Throwable => Boolean,
      (Boolean, Boolean) => Boolean)] =
    Seq(("head moved", headMoved, (h, _) => h),
      ("layout moved", layoutMoved, (_, l) => l))

  for ((raceName, race, pick) <- races;
       (label, shape, onHead, onLayout) <- shapes) {
    val retried = pick(onHead, onLayout)
    test(s"$raceName: $label is ${if (retried) "retried" else "rethrown at once"}") {
      var calls = 0
      var last: Exception = null
      val thrown = intercept[Exception] {
        rebasing(race) { calls += 1; last = shape(); throw last }
      }
      assert(thrown eq last, "the last attempt's exception is rethrown")
      assert(calls == (if (retried) 5 else 1))
    }

    if (retried) test(s"$raceName: $label then success returns the value") {
      var calls = 0
      val out = rebasing(race) {
        calls += 1
        if (calls < 3) throw shape()
        "landed"
      }
      assert(out == "landed" && calls == 3)
    }
  }

  test("the first success is returned without a retry") {
    var calls = 0
    assert(rebasing(headMoved) { calls += 1; 42 } == 42)
    assert(calls == 1)
  }

  test("a body that always races runs exactly 5 times; the last race is rethrown") {
    var calls = 0
    val e = intercept[VersionedTable.ConcurrentCommit] {
      rebasing(headMoved) {
        calls += 1
        throw new VersionedTable.ConcurrentCommit(calls)
      }
    }
    assert(calls == 5)
    assert(e.getMessage.startsWith("version 5 "), e.getMessage)
  }

  test("an explicit bound replaces the default") {
    var calls = 0
    intercept[VersionedTable.ConcurrentCommit] {
      rebasing(headMoved, 50) {
        calls += 1
        throw new VersionedTable.ConcurrentCommit(calls)
      }
    }
    assert(calls == 50)
  }

  test("a non-local return out of the body passes through") {
    var calls = 0
    def firstAttempt(): Int = {
      rebasing(headMoved) { calls += 1; return 7 }
      -1
    }
    assert(firstAttempt() == 7)
    assert(calls == 1)
  }
}
