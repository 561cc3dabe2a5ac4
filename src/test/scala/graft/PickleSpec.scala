package graft

import graft.sources.Pickle

/** The reference's pickle artifacts (docs.pkl / ids.pkl /
  * minhash_meta.pkl — synth_data.py:113-117,148-157): reader pinned
  * against CPython-written fixtures (default protocol 4 AND protocol 2),
  * writer against a read-back roundtrip. No SparkSession needed (the
  * spec extends SparkSpec for its temp dirs; the session is lazy). */
class PickleSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/pickle_fixture/$name").getPath

  private val expectedDocs = Seq(
    "hello world", "unicode: café ☃ 😀", "x" * 300, "", "last doc")

  test("reads CPython list[str] pickles (protocol 4 and 2, unicode, >255-byte strings)") {
    assert(Pickle.readStringList(res("docs.pkl")) == expectedDocs)
    assert(Pickle.readStringList(res("docs_p2.pkl")) == expectedDocs)
    assert(Pickle.readStringList(res("ids.pkl")) ==
      (0 until 5).map(i => f"doc_$i%06d"))
  }

  test("reads the reference's minhash_meta dict shape") {
    val meta = Pickle.readStringMap(res("minhash_meta.pkl"))
    assert(meta("num_perm") == 128L)
    assert(meta("k_shingle") == 3L)
    assert(meta("by_word") == true)
    assert(meta("seed") == 42L)
  }

  test("reads CPython list[set[str]] (shingles.pkl shape, incl. empty and 300-element sets)") {
    val got = Pickle.readStringSetList(res("shingles.pkl"))
    assert(got == Seq(Set("a b c", "b c d"), Set.empty[String],
      Set("unicode café ☃"), (0 until 300).map(i => s"s$i").toSet,
      Set("x" * 300)))
  }

  test("writeStringMap / writeStringSetList roundtrip through the reader") {
    val dir = tempDir("pkl_rt2")
    val meta = Map[String, Any]("num_perm" -> 128L, "by_word" -> true,
      "seed" -> 42L, "name" -> "mh", "big" -> 3000000000L,
      "neg" -> -7L, "thresh" -> 0.8)
    Pickle.writeStringMap(s"$dir/meta.pkl", meta)
    assert(Pickle.readStringMap(s"$dir/meta.pkl") == meta)
    val sets = Seq(Set("a", "b"), Set.empty[String], Set("é" * 100))
    Pickle.writeStringSetList(s"$dir/sh.pkl", sets)
    assert(Pickle.readStringSetList(s"$dir/sh.pkl") == sets)
  }

  test("writeStringList roundtrips through the reader") {
    val dir = tempDir("pkl_rt")
    val items = Seq("a", "", "nested 'quotes' and \n newlines", "é" * 100)
    Pickle.writeStringList(s"$dir/out.pkl", items)
    assert(Pickle.readStringList(s"$dir/out.pkl") == items)
  }

  test("arbitrary object pickles are rejected, not constructed") {
    // a GLOBAL/REDUCE opcode must throw — the reader is a format
    // boundary, not a deserializer (no gadget surface)
    val dir = tempDir("pkl_bad")
    // hand-built: PROTO 2, GLOBAL 'os\nsystem\n' ... STOP
    val bad = Array[Byte](0x80.toByte, 2, 'c', 'o', 's', '\n',
      's', 'y', 's', 't', 'e', 'm', '\n', '.')
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.pkl"), bad)
    val e = intercept[RuntimeException](Pickle.readStringList(s"$dir/bad.pkl"))
    assert(e.getMessage.contains("unsupported pickle opcode"))
  }
}
