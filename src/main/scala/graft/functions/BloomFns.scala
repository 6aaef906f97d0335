package graft.functions

/** Helper for `bloom_might_contain(<binary bloom>, <long value>)`, the
  * SQL name of Spark's native bloom-filter probe ([[Kernels.All]]) — the
  * same codegen'd `BloomFilterMightContain` Catalyst expression the
  * optimizer's own runtime-filter injection uses, exposed so operators
  * can apply a pre-built filter deterministically (InjectRuntimeFilter
  * only fires above size thresholds a test-scale plan never meets).
  *
  * The bloom argument must be a foldable binary (a literal: the
  * serialized `org.apache.spark.util.sketch.BloomFilter`); the value a
  * BIGINT. Deserialization happens once per task (lazy inside the
  * expression), the probe itself is two xxhash-style multiplications per
  * row inside whole-stage codegen.
  */
object BloomFns {

  /** Serialize a sketch bloom filter to the hex form `x'...'` SQL binary
    * literals take.
    */
  def toHex(bf: org.apache.spark.util.sketch.BloomFilter): String = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray.map("%02x".format(_)).mkString
  }
}
