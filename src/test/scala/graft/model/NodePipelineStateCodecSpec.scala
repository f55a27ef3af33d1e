package graft.model

import java.lang.Double.{doubleToRawLongBits, longBitsToDouble}

import scala.collection.immutable.ArraySeq
import scala.util.{Failure, Try}

import org.apache.spark.sql.types.BinaryType
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.PipelineConfig
import graft.operators.{BaselineOp, NodePipeline}

/** [[NodePipelineStateCodec]] is the state store's only encoding of
  * [[NodePipelineState]]: every state must read back bit for bit, and bytes
  * that are not a state in its format must be rejected, not misread.
  */
class NodePipelineStateCodecSpec extends AnyFunSuite {
  import NodePipelineStateCodec.{decode, encode}

  private val maxHistory = PipelineConfig().maxHistory

  private def check(name: String, prop: Prop, min: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: $res")
  }

  private val double: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-1e6, 1e6),
    2 -> Arbitrary.arbitrary[Double],
    2 -> Gen.oneOf(Double.NaN, longBitsToDouble(0x7ff8000000000123L), 0.0, -0.0,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue))

  private val long: Gen[Long] =
    Gen.frequency(4 -> Arbitrary.arbitrary[Long], 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L))

  private val history: Gen[ArraySeq[Double]] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(1, 40), 1 -> Gen.const(maxHistory))
    xs <- Gen.listOfN(n, double)
  } yield ArraySeq.unsafeWrapArray(xs.toArray)

  // valid Unicode only: an unpaired surrogate has no UTF-8 form to round-trip
  private val nodeId: Gen[String] = Gen.oneOf(
    Gen.oneOf("", "node-0042", "nœud-é", "节点-7", "🚀-node", "tab\tquote\"nul\u0000"),
    Gen.alphaNumStr,
    Gen.listOf(Gen.oneOf(Gen.choose(0, 0xD7FF), Gen.choose(0xE000, 0x10FFFF)))
      .map(cps => new String(cps.toArray, 0, cps.length)))

  private val baseline: Gen[Baseline] = for {
    id <- nodeId
    d <- Gen.listOfN(4, double)
    size <- Arbitrary.arbitrary[Int]
    t <- long
    latest <- Gen.option(double)
    last5 <- Gen.option(double)
  } yield Baseline(id, d(0), d(1), size, t, d(2), d(3), latest, last5)

  private val state: Gen[NodePipelineState] = for {
    open <- Gen.option(for (ws <- long; s <- double; c <- long; m <- long) yield OpenWindow(ws, s, c, m))
    h <- history
    raw <- history
    emit <- Arbitrary.arbitrary[Int]
    count <- long
    mean <- double
    m2 <- double
    latest <- Gen.option(baseline)
    closedThrough <- Gen.frequency(1 -> Gen.const(Long.MinValue), 3 -> long)
  } yield NodePipelineState(open, NodeState(h, raw, emit, count, mean, m2), latest, closedThrough)

  private def bits(d: Double): Long = doubleToRawLongBits(d)

  /** Every field, with each double as its raw bits (NaN payloads and -0.0 included). */
  private def view(st: NodePipelineState) = (
    st.open.map(o => (o.windowStart, bits(o.sum), o.count, o.maxTs)),
    st.closedThrough,
    (st.node.history.map(bits), st.node.rawHistory.map(bits), st.node.emitCounter, st.node.count,
      bits(st.node.mean), bits(st.node.m2)),
    st.latestBaseline.map(b => (b.nodeId, bits(b.observedCpu), bits(b.baselineCpu), b.historySize, b.eventTime,
      bits(b.runningMean), bits(b.runningStd), b.dailyAvgLatest.map(bits), b.dailyAvgLast5.map(bits))))

  private def rejected(bytes: Array[Byte]): Boolean = Try(decode(bytes)) match {
    case Failure(e: IllegalArgumentException) =>
      e.getMessage.contains("NodePipelineState") && e.getMessage.contains("state format")
    case _ => false
  }

  test("every state round-trips bit for bit, histories as primitive ArraySeqs") {
    check("round trip", Prop.forAll(state) { st =>
      val back = decode(encode(st))
      view(back) == view(st) &&
        back.node.history.isInstanceOf[ArraySeq.ofDouble] && back.node.rawHistory.isInstanceOf[ArraySeq.ofDouble]
    })
    assert(view(decode(encode(NodePipelineState.empty))) == view(NodePipelineState.empty))
  }

  test("truncated bytes, trailing bytes and an unknown version are rejected naming the format") {
    check("truncated", Prop.forAll(state, Gen.choose(0.0, 1.0)) { (st, f) =>
      val bytes = encode(st)
      rejected(bytes.take((f * (bytes.length - 1)).toInt))
    })
    check("trailing", Prop.forAll(state, Gen.choose(1, 9)) { (st, n) =>
      rejected(encode(st) ++ Array.fill[Byte](n)(0))
    })
    check("version", Prop.forAll(state, Arbitrary.arbitrary[Byte].suchThat(_ != NodePipelineStateCodec.Version)) {
      (st, v) => rejected(encode(st).updated(0, v))
    })
    assert(rejected(Array.emptyByteArray))
  }

  test("state is one binary column; BaselineOp.step keeps histories primitive below and at the cap") {
    assert(NodePipeline.stateEncoder.schema.fields.map(_.dataType).toSeq == Seq(BinaryType))

    val cfg = PipelineConfig(maxHistory = 5, minHistory = 1000, emitEveryN = 1, windowMillis = 1000L)
    val cpus = (1 to 12).map(i => 20.0 + (i * 7 % 11))
    cpus.zipWithIndex.foldLeft((NodeState.empty, Vector.empty[Double])) { case ((st, seen), (cpu, i)) =>
      val (next, _) = BaselineOp.step(cfg, st, WindowAggregate("n", cpu, i * 1000L))
      val all = seen :+ cpu
      assert(next.history.isInstanceOf[ArraySeq.ofDouble], s"history after ${i + 1} steps")
      assert(next.rawHistory.isInstanceOf[ArraySeq.ofDouble], s"rawHistory after ${i + 1} steps")
      assert(next.history.length == math.min(i + 1, cfg.maxHistory))
      assert(next.rawHistory == all.takeRight(cfg.maxHistory))
      (next, all)
    }
  }
}
