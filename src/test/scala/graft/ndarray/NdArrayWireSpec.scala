package graft.ndarray

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import com.esotericsoftware.kryo.Kryo
import com.esotericsoftware.kryo.io.{ByteBufferInput, ByteBufferOutput, Input, Output}
import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftKryo, TestSpark}
import graft.core.{ArrayChunk, ChunkKey, VarArray}
import graft.operators.ChunkTransforms

/** The Kryo wire format of NdArray ([[NdArraySerializer]]): bit-exact
  * round trips for every dtype through Spark's KryoSerializer (with and
  * without the GraftKryo registrations), through raw Kryo streams whose
  * buffers run dry mid-payload, and through a kryo-encoded Dataset; and
  * the lane-planar payload layout itself. */
class NdArrayWireSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n)
      .withInitialSeed(org.scalacheck.rng.Seed(graft.FuzzSeed(40417L))), p)
    assert(res.passed, res.status.toString)
  }

  private val allDtypes = Seq(DType.F32, DType.F64, DType.I32, DType.I64,
    DType.I16, DType.I8, DType.U8, DType.Bool, DType.TimeNs)

  /** Element bit patterns: random words plus ±0, ±inf and NaNs with
    * payload bits (quiet, signalling, negative) in f32 and f64. */
  private val wordGen: Gen[Long] = Gen.frequency(
    4 -> Gen.long,
    1 -> Gen.oneOf(0L, 0x80000000L, 0x7f800000L, 0xff800000L, 0x7fc00000L,
      0x7f800001L, 0xffc12345L, 0x7fbfffffL),
    1 -> Gen.oneOf(0x8000000000000000L, 0x7ff0000000000001L,
      0xfff8000000000abcL, 0x7ff8000000000000L, 0x7ff7ffffffffffffL))

  private def arrOf(dtype: DType, shape: Array[Int], words: Seq[Long]): NdArray = {
    val a = NdArray.zeros(dtype, shape)
    val n = a.size.toInt
    var i = 0
    while (i < n) {
      val w = words(i % words.length)
      var b = 0
      while (b < dtype.itemsize) {
        a.data(i * dtype.itemsize + b) = (w >>> (8 * b)).toByte; b += 1
      }
      i += 1
    }
    a
  }

  /** 0-d, empty and odd extents, plus some arrays (up to 41^3 elements)
    * larger than Spark's 64 KiB initial Kryo buffer. */
  private val arrGen: Gen[NdArray] = for {
    dtype <- Gen.oneOf(allDtypes)
    ndim <- Gen.chooseNum(0, 4)
    big <- Gen.frequency(5 -> false, 1 -> true)
    shape <- Gen.listOfN(ndim,
      if (big && ndim <= 3) Gen.chooseNum(1, 41) else Gen.chooseNum(0, 7))
    words <- Gen.listOfN(97, wordGen)
  } yield arrOf(dtype, shape.toArray, words)

  private def sparkKryo(registered: Boolean) = {
    val conf = new SparkConf(false)
    if (registered) conf.set("spark.kryo.classesToRegister", GraftKryo.classes)
    new KryoSerializer(conf).newInstance()
  }

  private def show(a: NdArray) = s"$a ${a.data.length} bytes"

  private def sample(n: Int, seed: Long): List[NdArray] =
    Gen.listOfN(n, arrGen).pureApply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(graft.FuzzSeed(seed)))

  test("every dtype round-trips bit-identically through Spark's KryoSerializer") {
    for (registered <- Seq(true, false)) {
      val ser = sparkKryo(registered)
      check(forAll(arrGen) { a =>
        val back = ser.deserialize[NdArray](ser.serialize(a))
        back.sameAs(a) :| s"registered=$registered ${show(a)}"
      })
      // a serialization stream holding many arrays: Output flushes and
      // Input refills land inside payloads
      val arrays = sample(40, 40418L)
      val bytes = new ByteArrayOutputStream()
      val out = ser.serializeStream(bytes)
      arrays.foreach(out.writeObject(_))
      out.close()
      val in = ser.deserializeStream(new ByteArrayInputStream(bytes.toByteArray))
      arrays.foreach { a => assert(in.readObject[NdArray]().sameAs(a), show(a)) }
      in.close()
    }
  }

  test("raw Kryo buffers that run dry mid-payload, and NIO buffers, round-trip") {
    val kryo = new Kryo()
    check(forAllNoShrink(arrGen, Gen.chooseNum(5, 13)) { (a, bufSize) =>
      val sink = new ByteArrayOutputStream()
      val out = new Output(sink, bufSize)
      kryo.writeObject(out, a); kryo.writeObject(out, a); out.close()
      val in = new Input(new ByteArrayInputStream(sink.toByteArray), bufSize)
      val streamed = Seq(kryo.readObject(in, classOf[NdArray]),
        kryo.readObject(in, classOf[NdArray]))
      val grow = new Output(bufSize, -1)
      kryo.writeObject(grow, a)
      val grown = kryo.readObject(new Input(grow.toBytes), classOf[NdArray])
      val nio = new ByteBufferOutput(1 << 20)
      kryo.writeObject(nio, a)
      val nioIn = new ByteBufferInput(nio.getByteBuffer.flip())
      val viaNio = kryo.readObject(nioIn, classOf[NdArray])
      (streamed :+ grown :+ viaNio).forall(_.sameAs(a)) :| s"buf=$bufSize ${show(a)}"
    }, 100)
  }

  test("a float32 payload is written lane-planar after dtype and shape") {
    val n = 1001
    val a = NdArray.fromDoubles(DType.F32, Array(7, 11, 13),
      Array.tabulate(n)(i => 280.0 + i * 0.37))
    val wire = {
      val bb = sparkKryo(registered = true).serialize(a)
      java.util.Arrays.copyOfRange(bb.array(), bb.arrayOffset() + bb.position(),
        bb.arrayOffset() + bb.limit())
    }
    val lanes = Array.tabulate(4 * n)(p => a.data((p % n) * 4 + p / n))
    val header = Array[Byte](0, 3, 7, 11, 13) // F32 code, rank, extents
    assert(wire.length >= header.length + lanes.length)
    val tail = wire.takeRight(header.length + lanes.length)
    assert(tail.take(header.length).sameElements(header), "dtype, rank, extents")
    assert(tail.drop(header.length).sameElements(lanes), "byte lane j of every element is contiguous")
  }

  test("chunk pairs round-trip bit-identically through a pairEnc Dataset map") {
    val spark = TestSpark.spark
    val pairs: Seq[ChunkTransforms.Pair] = sample(24, 40419L)
      .zipWithIndex.map { case (a, i) =>
        (ChunkKey("t" -> i.toLong),
          ArrayChunk(Map("v" -> VarArray(a.shape.indices.map("d" + _), a))))
      }
    val back = spark.createDataset(pairs)(ChunkTransforms.pairEnc)
      .repartition(3)
      .map { case (k, c) => (k, c) }(ChunkTransforms.pairEnc)
      .collect().sortBy(_._1.offsets("t"))
    assert(back.length == pairs.length)
    back.zip(pairs).foreach { case ((k, c), (k0, c0)) =>
      assert(k == k0)
      assert(c.vars("v").arr.sameAs(c0.vars("v").arr), show(c0.vars("v").arr))
    }
  }
}
