package graft.functions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck laws for the projection kernel (pure, no Spark session):
  * totality on arbitrary float content, the sign-bit identity with
  * VecSignExpr (the pair's defining contract), exact doubling linearity
  * (doubling a double is exact, so the fold distributes bit-for-bit), and
  * the shared null/empty contract.
  */
object RandomProjectProps extends Properties("RandomProject") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters = graft.FixedSeed(p, 4L)

  private val dimGen = Gen.choose(1, 96)
  private val finiteFloat: Gen[Float] = Gen.chooseNum(-1000f, 1000f)
  private def vecGen(dim: Int): Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](dim, finiteFloat)

  private val anyVec: Gen[Array[Float]] = dimGen.flatMap(vecGen)

  private def arr(v: Array[Float]) = new GenericArrayData(v.map(Float.box))

  property("total on arbitrary finite vectors, output length = outDim") =
    forAll(anyVec, Gen.choose(1, 62)) { (v, outDim) =>
      val out = RandomProjectExpr.project(arr(v), outDim)
      out != null && out.numElements() == outDim
    }

  property("VecSignExpr bit k == sign of projection component k (incl. specials)") = {
    val withSpecials = dimGen.flatMap { d =>
      Gen.containerOfN[Array, Float](d,
        Gen.frequency(
          8 -> finiteFloat,
          1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f)))
    }
    forAll(withSpecials, Gen.choose(1, 62)) { (v, bits) =>
      val p   = RandomProjectExpr.project(arr(v), bits)
      val sig = VecSignExpr.sig(arr(v), bits)
      (0 until bits).forall { k =>
        val bit = (sig >> k) & 1L
        bit == (if (p.getDouble(k) >= 0) 1L else 0L)
      }
    }
  }

  property("doubling the vector doubles every component exactly") =
    forAll(anyVec) { v =>
      val p1 = RandomProjectExpr.project(arr(v), 16)
      val p2 = RandomProjectExpr.project(arr(v.map(_ * 2f)), 16)
      (0 until 16).forall(k => p2.getDouble(k) == 2.0 * p1.getDouble(k))
    }

  property("empty vector and null element -> null (VecSignExpr's contract)") = Prop.all(
    RandomProjectExpr.project(new GenericArrayData(Array.empty[Any]), 4) == null,
    RandomProjectExpr.project(new GenericArrayData(Array[Any](1.0f, null)), 4) == null,
    VecSignExpr.sig(new GenericArrayData(Array[Any](1.0f, null)), 4) == null)
}
