package graft

import org.scalacheck.Test
import org.scalacheck.rng.Seed

/** Tier-1 property suites draw the same cases on every run: each passes its
  * parameters through here from `overrideParameters`. A seed given on the
  * command line (ScalaCheck's `-initialSeed`) wins, which is how a sweep
  * outside tier-1 draws fresh cases.
  */
object FixedSeed {
  def apply(p: Test.Parameters, seed: Long): Test.Parameters =
    if (p.initialSeed.isDefined) p else p.withInitialSeed(Seed(seed))
}
