package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Cleanse
import graft.schema.SchemaRegistry

/** The SURVEY §5 property-based layer (scalacheck driving the pure schema
  * algebra — the invariants that keep the drift pipeline deterministic
  * under parallelism, permutation, and re-application). Spark-free on
  * purpose: these are the driver-side kernels whose determinism everything
  * else leans on; the distributed round-trips are pinned by the ingest and
  * parity suites. */
class PropertySpec extends org.scalatest.funsuite.AnyFunSuite {

  private def check(p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val rawName: Gen[String] = for {
    base <- Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('.', '[', ']', '\n', '_'))).map(_.mkString)
  } yield base

  test("column resolution is idempotent and collision-free (P6/P7)") {
    check(Prop.forAll(Gen.listOf(rawName)) { names =>
      val resolved = Cleanse.resolveColIssues(names)
      val lower = resolved.map(_.toLowerCase)
      // collision-free (case-insensitively, the SQL-sink contract)
      lower.distinct.lengthCompare(lower.size) == 0 &&
        // idempotent: resolving resolved names changes nothing
        Cleanse.resolveColIssues(resolved) == resolved &&
        // positional: arity preserved
        resolved.lengthCompare(names.size) == 0
    })
  }

  private val keyset: Gen[Set[String]] =
    Gen.someOf(Seq("a", "b", "c", "d", "e", "f")).map(_.toSet)

  test("registry version ids are permutation-invariant and stable (A4)") {
    check(Prop.forAll(Gen.listOf(keyset)) { keysets =>
      val r1 = SchemaRegistry.seed.observeSorted(keysets)
      val anyPerm = scala.util.Random.shuffle(keysets)
      val r2 = SchemaRegistry.seed.observeSorted(anyPerm)
      // discovery order never changes minted ids
      r1 == r2 &&
        // re-observing is a no-op (ids are stable across runs)
        r1.observeSorted(keysets) == r1 &&
        // every observed keyset is resolvable
        keysets.forall(ks => r1.versionOf(ks).isDefined)
    })
  }

  test("incremental observation never remints an existing id (A4)") {
    check(Prop.forAll(Gen.listOf(keyset), Gen.listOf(keyset)) { (first, second) =>
      val r1 = SchemaRegistry.seed.observeSorted(first)
      val r2 = r1.observeSorted(second)
      // old assignments survive any later drift
      first.forall(ks => r2.versionOf(ks) == r1.versionOf(ks)) &&
        // ids only grow (monotone minting)
        r1.versions.forall { case (id, ks) => r2.versions.get(id).contains(ks) }
    })
  }

  test("sampling threshold is monotone in the rate (growing rate grows sample)") {
    import graft.functions.Sampling.thresholdHex
    check(Prop.forAll(Gen.choose(0.0, 1.0), Gen.choose(0.0, 1.0)) { (r1, r2) =>
      val (lo, hi) = if (r1 <= r2) (r1, r2) else (r2, r1)
      // string comparison on the hex cut matches numeric order, so every
      // key kept at lo is kept at hi
      thresholdHex(lo) <= thresholdHex(hi)
    })
  }
}
