package graft.tools

import graft.functions.HashCompat
import graft.queries.Functions8.{hashProbes, shingleProbes}

/** Prints the hash-compat oracle pin table for q_fn_hash_compat: one TSV
  * row per probe string with every kernel's value. The DuckDB oracle for
  * that query embeds these as literals (DuckDB cannot compute the
  * reference hash family), so correctness runs become regression pins of
  * the kernel outputs. Re-run after any intentional kernel change:
  *   sbt "Test/runMain graft.tools.HashPins"        (q_fn_hash_compat)
  *   sbt "Test/runMain graft.tools.HashPins digests" (q_fn_digest)
  *   sbt "Test/runMain graft.tools.HashPins shingles" (q_fn_shingle_hash)
  * The probe strings live next to those queries, in `Functions8`.
  */
object HashPins {
  def main(args: Array[String]): Unit = {
    def b(s: String) = s.getBytes("UTF-8")
    def hex(a: Array[Byte]) = a.map("%02x".format(_)).mkString
    if (args.headOption.contains("digests")) {
      // round-10 batch 23 pin table (q_fn_digest)
      import graft.functions.Batch23
      for (s <- hashProbes) {
        println(Seq(
          "'" + s + "'",
          "'" + hex(Batch23.md4(b(s))) + "'",
          "'" + hex(Batch23.ripemd160(b(s))) + "'",
          "'" + hex(Batch23.keccak256(b(s))) + "'",
          "'" + hex(Batch23.blake3(b(s))) + "'",
          "'" + hex(java.security.MessageDigest.getInstance("SHA-512/256").digest(b(s))) + "'",
          Batch23.kostikConsistentHash(HashCompat.sipHash64(b(s)), 8)).mkString(", "))
      }
      return
    }
    if (args.headOption.contains("shingles")) {
      import graft.functions.StringShingles
      for (s <- shingleProbes) {
        val mh = StringShingles.minHashPair(b(s), 3, 6, ci = false, utf8 = false, ngram = true)
        val wmh = StringShingles.minHashPair(b(s), 3, 6, ci = false, utf8 = false, ngram = false)
        println(Seq(
          "'" + s + "'",
          StringShingles.ngramSimHash(b(s), 3, ci = false, utf8 = false),
          StringShingles.ngramSimHash(b(s), 3, ci = true, utf8 = false),
          StringShingles.ngramSimHash(b(s), 3, ci = false, utf8 = true),
          StringShingles.wordShingleSimHash(b(s), 3, ci = false),
          StringShingles.wordShingleSimHash(b(s), 3, ci = true),
          mh._1, mh._2, wmh._1, wmh._2).mkString("\t"))
      }
      return
    }
    for (s <- hashProbes) {
      println(Seq(
        "'" + s + "'",
        HashCompat.cityHash64(b(s)),
        HashCompat.sipHash64(b(s)),
        HashCompat.xxHash32(b(s)),
        HashCompat.xxHash64(b(s)),
        HashCompat.murmurHash2_64(b(s)),
        HashCompat.murmurHash3_32(b(s)),
        HashCompat.kafkaMurmurHash(b(s)),
        HashCompat.javaHash(b(s)),
        HashCompat.crc32(b(s)),
        HashCompat.crc64(b(s)),
        HashCompat.wyHash64(b(s)),
        HashCompat.halfMD5(b(s)),
        "'" + hex(HashCompat.sipHash128(b(s))) + "'").mkString("\t"))
    }
  }
}
