package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{TextHash, VectorOps}
import graft.functions.TopKBuffer

/** Seeded randomized properties of the kernel data structures (no
  * Spark session needed — pure JVM). */
class PropertySpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(0)

  test("TopKBuffer matches sort-based top-k over 200 random inputs") {
    for (_ <- 1 to 200) {
      val n = rnd.nextInt(60)
      val k = 1 + rnd.nextInt(20)
      val xs = Seq.fill(n)((rnd.nextInt(1000).toLong, (rnd.nextInt(21) - 10) / 10.0))
      val buf = new TopKBuffer(k)
      xs.foreach { case (id, s) => buf.insert(id, s) }
      val expected = xs.sortBy { case (id, s) => (-s, id) }.take(k)
      assert(buf.sortedDesc == expected, s"n=$n k=$k")
    }
  }

  test("TopKBuffer merge equals single-heap insert over 200 random splits") {
    for (_ <- 1 to 200) {
      val k = 1 + rnd.nextInt(10)
      val a = Seq.fill(rnd.nextInt(40))((rnd.nextInt(500).toLong, rnd.nextDouble()))
      val b = Seq.fill(rnd.nextInt(40))((rnd.nextInt(500).toLong, rnd.nextDouble()))
      val h1 = new TopKBuffer(k); val h2 = new TopKBuffer(k)
      a.foreach { case (id, s) => h1.insert(id, s) }
      b.foreach { case (id, s) => h2.insert(id, s) }
      h1.absorb(h2)
      val all = new TopKBuffer(k)
      (a ++ b).foreach { case (id, s) => all.insert(id, s) }
      assert(h1.sortedDesc == all.sortedDesc)
    }
  }

  test("similarity kernels: bounds and identities on random vectors") {
    for (_ <- 1 to 100) {
      val d = 1 + rnd.nextInt(128)
      val a = Array.fill(d)(rnd.nextDouble() * 20 - 10)
      val b = Array.fill(d)(rnd.nextDouble() * 20 - 10)
      assert(math.abs(VectorOps.cosineArr(a, a) - 1.0) < 1e-9)
      assert(VectorOps.l2Arr(a, a) == 0.0 && VectorOps.l1Arr(a, a) == 0.0)
      val c = VectorOps.cosineArr(a, b)
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(VectorOps.l2Arr(a, b) == VectorOps.l2Arr(b, a))
      assert(math.abs(VectorOps.dotArr(a, b) - VectorOps.dotArr(b, a)) < 1e-9)
    }
  }

  test("minhash signature agreement tracks text overlap") {
    val s1 = UTF8String.fromString("alpha beta gamma delta epsilon zeta eta theta")
    val s2 = UTF8String.fromString("alpha beta gamma delta epsilon zeta eta iota")
    val s3 = UTF8String.fromString("one two three four five six seven eight")
    def sig(s: UTF8String) = TextHash.minhash(s, 3, 64, 42L).toLongArray()
    def agree(a: Array[Long], b: Array[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(sig(s1), sig(s1)) == 64)
    assert(agree(sig(s1), sig(s2)) > agree(sig(s1), sig(s3)))
  }

  test("token hashing ignores separator differences") {
    val a = TextHash.tokenHashes("hello,world! spark")
    val b = TextHash.tokenHashes("hello world   spark")
    assert(a.toSeq == b.toSeq)
  }

  test("tokenizer lowercase is the simple mapping (DuckDB lower parity, U+0130)") {
    def toks(s: String): Seq[String] = {
      val arr = TextHash.asciiTokens(UTF8String.fromString(s))
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    // U+0130 (İ) is Unicode's only non-locale multi-char lowercase
    // mapping: the JDK's FULL mapping gives "i" + combining dot
    // (tokens ["i","stanbul"]); the oracle contract is DuckDB's SIMPLE
    // mapping lower('İstanbul') = 'istanbul' — one token.
    assert(toks("İstanbul Iota") == Seq("istanbul", "iota"))
    // lowered() itself must not change string length on U+0130
    assert(TextHash.lowered(UTF8String.fromString("İstanbul")).length == 8)
    // Kelvin sign K (U+212A) simple-maps into ASCII k on both engines
    assert(toks("Kelvin") == Seq("kelvin"))
    // non-ASCII letters without ASCII lowercase act as separators
    assert(toks("café bar") == Seq("caf", "bar"))
    // and the derived one-pass stats see the same token stream
    val st = TextHash.textStats(UTF8String.fromString("İstanbul Iota"), Array.empty[Long])
    assert(st.getInt(0) == 2)
  }

  test("hyperplane buckets depend only on (seed, dims, vector)") {
    val v = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(16)(i => (i * 0.1 - 0.8).toFloat))
    val b1 = TextHash.hyperplaneBucketsCached(v, isFloat = true, 4, 4, 42L).toIntArray()
    val b2 = TextHash.hyperplaneBucketsCached(v, isFloat = true, 4, 4, 42L).toIntArray()
    val b3 = TextHash.hyperplaneBucketsCached(v, isFloat = true, 4, 4, 43L).toIntArray()
    assert(b1.toSeq == b2.toSeq)
    assert(b1.toSeq != b3.toSeq)
  }

  test("spark-compatible rounding half-up") {
    assert(VectorOps.roundTo(0.1234565, 6) == 0.123457 ||
      VectorOps.roundTo(0.1234565, 6) == 0.123456) // representation-dependent
    assert(VectorOps.roundTo(1.9999995, 6) == 2.0)
    assert(VectorOps.roundTo(-0.5000005, 6) == -0.500001 ||
      VectorOps.roundTo(-0.5000005, 6) == -0.5)
  }
}
