package graft

import org.apache.spark.sql.functions._
import graft.operators.IdMap

/** Port of the reference id-map invariants (`tests/test_id_map.py:23-216`,
  * SURVEY §7.4.1): injectivity, density, stability across runs, and the J8
  * `NOT IN (iri UNION id)` guard that makes re-encoding a no-op.
  */
class IdMapSpec extends SparkSpec {

  private def keysDf(keys: Seq[String]) = {
    val s = spark; import s.implicits._
    keys.toDF("pk")
  }

  test("empty map: 10 keys get dense ids 1..10 in sorted-key order") {
    val keys = Seq("iri/j", "iri/a", "iri/c", "iri/b", "iri/f", "iri/e", "iri/d", "iri/h", "iri/g", "iri/i")
    val map = IdMap.extend(IdMap.empty(spark), keysDf(keys), "pk")
    val got = map.orderBy("id").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.map(_._2) == (1L to 10L))
    assert(got.map(_._1) == keys.sorted) // deterministic assignment order
  }

  test("injective: one id per key, one key per id") {
    val map = IdMap.extend(IdMap.empty(spark), keysDf(Seq("a", "b", "c", "a", "b")), "pk")
    assert(map.count() == 3)
    assert(map.select("id").distinct().count() == 3)
    assert(map.select("key").distinct().count() == 3)
  }

  test("stability: extending with old ∪ new keys never reassigns old ids") {
    val m1 = IdMap.extend(IdMap.empty(spark), keysDf(Seq("b", "a")), "pk")
    val m2 = IdMap.extend(m1, keysDf(Seq("a", "c", "b", "d")), "pk")
    val ids1 = m1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids2 = m2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ids1.forall { case (k, v) => ids2(k) == v })
    assert(ids2("c") == 3 && ids2("d") == 4) // monotonic continuation
  }

  test("idempotence (J8): extending over an ALREADY-ENCODED frame is a no-op") {
    val entity = keysDf(Seq("iri/x", "iri/y", "iri/z"))
    val (encoded, map) = IdMap.extendAndEncode(IdMap.empty(spark), entity, "pk")
    // the encoded frame's pk column now holds stringable ints 1..3;
    // re-extending with it must NOT mint ids for "1","2","3"
    val map2 = IdMap.extend(map, encoded, "pk")
    assert(map2.count() == map.count())
    assert(map2.agg(max("id")).head().getLong(0) == 3)
  }

  test("encode is idempotent: double-encoding passes ids through unchanged (reference UPDATE semantics)") {
    val entity = keysDf(Seq("iri/x", "iri/y", "iri/z"))
    val (encoded, map) = IdMap.extendAndEncode(IdMap.empty(spark), entity, "pk")
    val twice = IdMap.encode(encoded, map, "pk")
    assert(twice.count() == 3) // nothing silently dropped
    assert(twice.collect().map(_.toSeq).toSet == encoded.collect().map(_.toSeq).toSet)
  }

  test("encode raises on a key that is neither mapped nor an id-space string") {
    val entity = keysDf(Seq("iri/x"))
    val (_, map) = IdMap.extendAndEncode(IdMap.empty(spark), entity, "pk")
    val rogue = keysDf(Seq("iri/never-extended"))
    val e = intercept[Exception] { IdMap.encode(rogue, map, "pk").collect() }
    assert(e.getMessage.contains("unmappable") ||
      Option(e.getCause).exists(_.getMessage.contains("unmappable")))
  }

  test("encode: round-trip pk -> id matches the map; row count preserved") {
    val s = spark; import s.implicits._
    val entity = Seq(("iri/a", "x"), ("iri/b", "y"), ("iri/a", "z")).toDF("pk", "payload")
    val (encoded, map) = IdMap.extendAndEncode(IdMap.empty(spark), entity, "pk")
    assert(encoded.count() == 3)
    val joined = encoded.join(map, encoded("pk") === map("id")).count()
    assert(joined == 3) // every encoded pk is a valid map id
  }

  test("extendBulk (zipWithIndex path) assigns exactly the same ids as extend") {
    val keys = Seq("z", "m", "a", "q", "b", "m", "z")
    val viaWindow = IdMap.extend(IdMap.empty(spark), keysDf(keys), "pk")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaBulk = IdMap.extendBulk(IdMap.empty(spark), keysDf(keys), "pk")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaBulk == viaWindow)
    // and continuing from an existing map
    val m1 = IdMap.extend(IdMap.empty(spark), keysDf(Seq("a", "b")), "pk")
    val w2 = IdMap.extend(m1, keysDf(keys), "pk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val b2 = IdMap.extendBulk(m1, keysDf(keys), "pk").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(b2 == w2)
  }

  test("extendBulk == extend on supplementary-plane keys (UTF-8 vs UTF-16 order)") {
    // "�" (one UTF-16 unit, 3 UTF-8 bytes ef bf bd) sorts BEFORE
    // "😀" (U+1F600, surrogate pair, 4 UTF-8 bytes f0 9f 98 80)
    // in UTF-8 byte order, but AFTER it under UTF-16 code-unit compareTo —
    // the two orderings genuinely disagree on these keys.
    val keys = Seq("😀", "�", "a", "😁z")
    val viaWindow = IdMap.extend(IdMap.empty(spark), keysDf(keys), "pk")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaBulk = IdMap.extendBulk(IdMap.empty(spark), keysDf(keys), "pk")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaBulk == viaWindow)
  }

  test("null keys mint no id and PASS THROUGH encode as null — rows are never deleted") {
    val s = spark; import s.implicits._
    val entity = Seq(Some("a"), None, Some("b")).toDF("pk")
    val map = IdMap.extend(IdMap.empty(spark), entity, "pk")
    assert(map.count() == 2) // no id minted for null
    // UPDATE semantics (the reference mutates values, never deletes
    // rows): the null-key row survives with a null encoded value, so the
    // frame's row count is stable under a nullable FK column
    val encoded = IdMap.encode(entity, map, "pk").collect()
    assert(encoded.length == 3)
    assert(encoded.count(_.isNullAt(0)) == 1)
  }

  test("extend fails fast on a numeric key that future id assignment would collide with") {
    val s = spark; import s.implicits._
    // key "5" maps to id 1; ids 2..5 would eventually be assigned, and a
    // re-encode of id 5 would then match key "5" and remap the row
    val m1 = IdMap.extend(IdMap.empty(spark), Seq("5").toDF("pk"), "pk")
    val e = intercept[IllegalArgumentException] {
      IdMap.extend(m1, Seq("iri/a", "iri/b").toDF("pk"), "pk")
    }
    assert(e.getMessage.contains("numeric key"))
    // numeric keys BELOW the current max id are safe (already-encoded
    // id-space strings — the documented no-op re-encode path)
    val base = IdMap.extend(IdMap.empty(spark),
      Seq("iri/a", "iri/b", "iri/c").toDF("pk"), "pk")
    val ok = IdMap.extend(base, Seq("2").toDF("pk"), "pk")
    assert(ok.count() == 3) // "2" is an id-space string: no fresh key minted
  }

  test("extendAndEncode over chained maps: results survive releaseSharedCaches") {
    val s = spark; import s.implicits._
    def entity(keys: String*) = keys.map(k => (k, k)).toDF("pk", "src")
    def encPairs(enc: org.apache.spark.sql.DataFrame) =
      enc.select("src", "pk").as[(String, Long)].collect().toSet
    def mapPairs(map: org.apache.spark.sql.DataFrame) =
      map.as[(String, Long)].collect().toSet
    // the steady-state loop shape: the second map chains on the first,
    // so each call registers an entity entry and a delta entry
    val (e1, e2) = (entity("iri/b", "iri/a"), entity("iri/c", "iri/b"))
    val (enc1, m1) = IdMap.extendAndEncode(IdMap.empty(spark), e1, "pk")
    val (enc2, m2) = IdMap.extendAndEncode(m1, e2, "pk")
    val before = (encPairs(enc1), encPairs(enc2), mapPairs(m1), mapPairs(m2))
    assert(before._4 == Set("iri/a" -> 1L, "iri/b" -> 2L, "iri/c" -> 3L))
    assert(before._2 == Set("iri/c" -> 3L, "iri/b" -> 2L))

    val none = org.apache.spark.storage.StorageLevel.NONE
    assert(e1.storageLevel != none && e2.storageLevel != none)
    SparkEntry.releaseSharedCaches()
    assert(e1.storageLevel == none && e2.storageLevel == none)
    // post-release, actions recompute through lineage — same assignments
    assert((encPairs(enc1), encPairs(enc2), mapPairs(m1), mapPairs(m2)) == before)
    assert(graft.util.Caching.registeredCount == 0)
  }
}
