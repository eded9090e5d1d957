package perfbench

/**
 * Pins the benchmark's BM25 oracle to scores worked out by hand from
 * Lucene's BM25Similarity formula (k1 = 1.2, b = 0.75), as float bit
 * patterns. Corpus: d0 = "a b", d1 = "a a c", d2 = "b"; N = 3, avgdl = 2.
 *
 *   run: python3 perfbench/run.py --self-test
 */
object OracleSelfTest {
  private var failures = 0

  private def expect[A](what: String, got: A, want: A): Unit =
    if (got != want) { failures += 1; println(s"FAIL $what: got $got, want $want") }
    else println(s"ok   $what")

  private def hit(doc: Long, bits: Int) = Oracle.Hit(doc, java.lang.Float.intBitsToFloat(bits))

  def main(args: Array[String]): Unit = {
    // norm bytes: lengths below 24 are exact; 100 keeps 4 significant bits
    expect("intToByte4(23)", Oracle.intToByte4(23), 23.toByte)
    expect("intToByte4(24)", Oracle.intToByte4(24), 24.toByte)
    expect("intToByte4(100)", Oracle.intToByte4(100), 57.toByte)
    expect("byte4ToInt(57)", Oracle.byte4ToInt(57.toByte), 96)

    val o = new Oracle
    o.add(0, "a b")
    o.add(1, "A a c")
    o.add(2, "b")
    // idf(df=2, N=3) = ln 1.6; d0: tf 1, len 2; d1: tf 2, len 3
    val a0 = hit(0, 0x3e5ac3ec)
    val a1 = hit(1, 0x3e83dbca)
    val b2 = hit(2, 0x3e898278)
    val ab0 = hit(0, 0x3edac3ec) // (float)((double)a0 + (double)b0)
    expect("term a", o.topK(Nil, Seq("a"), Nil, 10), Seq(a1, a0))
    expect("or a b", o.topK(Nil, Seq("a", "b"), Nil, 10), Seq(ab0, b2, a1))
    expect("or a b, k=2", o.topK(Nil, Seq("a", "b"), Nil, 2), Seq(ab0, b2))
    expect("and a b", o.topK(Seq("a", "b"), Nil, Nil, 10), Seq(ab0))
    expect("+a b -c", o.topK(Seq("a"), Seq("b"), Seq("c"), 10), Seq(ab0))
    expect("and a zz", o.topK(Seq("a", "zz"), Nil, Nil, 10), Nil)
    expect("docCount", o.docCount, 3L)

    if (failures > 0) { println(s"$failures failure(s)"); sys.exit(1) }
    println("oracle self-test passed")
  }
}
