package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.ops.Dedup
import graft.queries.QueryDef.t

/** Locks the custom codegen'd expressions to their composed-built-ins
  * semantic specs. */
class GraftFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val dir = "/root/testdata/sf0.001"

  test("quantized_dot == aggregate(zip_with(...)) on embeddings") {
    val q = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr(graft.ops.Similarity.quantExpr).as("qv"))
      .withColumn("fast", expr("quantized_dot(qv, qv)"))
      .withColumn("slow", expr("aggregate(zip_with(qv, qv, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    assert(q.filter(col("fast") =!= col("slow")).count() == 0)
    assert(q.count() > 0)
  }

  test("word_shingles == array_distinct(transform(...)) lambda formulation") {
    val docs = t(spark, dir, "documents")
    val fast = Dedup.shingled(docs).orderBy("doc_id").collect().map(_.getSeq[String](1))
    val slow = Dedup.shingledViaLambdas(docs).orderBy("doc_id").collect().map(_.getSeq[String](1))
    assert(fast.length == slow.length)
    fast.zip(slow).foreach { case (f, s) => assert(f == s) }
  }

  test("word_gram_md5 == transform(sequence, md5(concat_ws(slice))) lambda twin") {
    import org.apache.spark.sql.functions.{col, expr, split}
    val g = graft.ops.Chunking.QueryGramWords
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val fast = toks.select(col("doc_id"), expr(s"word_gram_md5(w, $g)").as("fps"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    val slow = toks.select(col("doc_id"), expr(
        s"""CASE WHEN size(w) >= $g THEN
              transform(sequence(1, size(w) - ${g - 1}), i -> md5(concat_ws(' ', slice(w, i, $g))))
            ELSE CAST(array() AS ARRAY<STRING>) END""").as("fps"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    assert(fast.length == slow.length && fast.nonEmpty)
    fast.zip(slow).foreach { case (f, s) => assert(f == s) }
  }

  test("any_word_gram_in_bloom == exists(transform(sequence, " +
      "xxhash64(concat_ws(slice)))) might_contain twin") {
    import org.apache.spark.sql.functions.{col, expr}
    val w = graft.ops.Conversations.BenchSpanWords
    val bloom = graft.streaming.SftStream.benchBloomBytes(spark)
    val b64 = java.util.Base64.getEncoder.encodeToString(bloom)
    // real corpus + adversarial fixtures: doubled spaces (empty tokens),
    // leading/trailing spaces, short texts, a planted benchmark passage
    val planted = graft.ops.Conversations.BenchPassages.head
    val fixtures = spark.createDataFrame(Seq(
      (-1L, s"prefix words $planted suffix words"),
      (-2L, "too short"),
      (-3L, "a  doubled  space text that is long enough for a gram here ok"),
      (-4L, s" leading space $planted"),
      (-5L, ""))).toDF("doc_id", "text")
    val docs = t(spark, dir, "documents").select("doc_id", "text")
      .unionByName(fixtures)
    val both = docs
      .withColumn("fast", expr(s"any_word_gram_in_bloom(text, $w, '$b64')"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("slow", expr(
        s"""CASE WHEN size(toks) >= $w THEN
              exists(transform(sequence(1, size(toks) - ${w - 1}),
                  i -> xxhash64(concat_ws(' ', slice(toks, i, $w)))),
                h -> might_contain(unbase64('$b64'), h))
            ELSE false END"""))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    assert(both.filter(col("fast")).count() >= 2, "planted passages must hit")
    assert(both.count() > 5)
  }

  test("quantized_dot null semantics match the zip_with spec") {
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)),    // 11
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)),  // null elem
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](3L, 4L)) // length mismatch
    ).toDF("a", "b")
      .withColumn("fast", expr("quantized_dot(a, b)"))
      .withColumn("slow", expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"))
    val rows = df.collect()
    assert(rows.forall(r => r.isNullAt(2) == r.isNullAt(3)))
    assert(rows(0).getLong(2) == 11L && rows(1).isNullAt(2) && rows(2).isNullAt(2))
  }

  test("rolling_hash == aggregate/substr lambda formulation") {
    val docs = t(spark, dir, "documents")
    val fast = graft.ops.TextStats.fingerprintRolling(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = graft.ops.TextStats.fingerprintRollingViaLambdas(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow && fast.nonEmpty)
    // edge rows: empty string hashes to 0; codepoint (not byte) iteration
    import spark.implicits._
    val edge = Seq((1L, ""), (2L, "a"), (3L, "ab"), (4L, "é€"))
      .toDF("doc_id", "text")
    val f = graft.ops.TextStats.fingerprintRolling(edge)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s = graft.ops.TextStats.fingerprintRollingViaLambdas(edge)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f == s)
    assert(f(1L) == 0L && f(2L) == 97L && f(3L) == 97L * 31 + 98)
  }

  test("minhash_sig == transform/array_min lambda formulation") {
    val sh = Dedup.shingled(t(spark, dir, "documents").limit(50))
    val cmp = sh
      .withColumn("fast", expr(s"minhash_sig(grams, ${Dedup.NumHashes})"))
      .withColumn("slow", expr(Dedup.minhashSigExpr))
    assert(cmp.filter(not(col("fast") === col("slow"))).count() == 0)
  }

  test("minhash_bands == explicit sig + band-key lambda formulation") {
    val sh = Dedup.shingled(t(spark, dir, "documents").limit(50))
    val cmp = sh
      .withColumn("fast", expr(s"minhash_bands(grams, ${Dedup.NumHashes}, ${Dedup.Rows})"))
      .withColumn("sig", expr(Dedup.minhashSigExpr))
      .withColumn("slow", expr(Dedup.bandKeysExpr))
    assert(cmp.filter(not(col("fast") === col("slow"))).count() == 0)
  }

  test("winnow_select == transform/aggregate lambda formulation (as a SET)") {
    val base = t(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= Dedup.WinK)
    val fast = base.withColumn("v",
        expr(s"array_sort(winnow_select(toks, ${Dedup.WinK}, ${Dedup.WinW}, ${Dedup.WinPack}L))"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](2))
    val slow = base.withColumn("v", expr(s"array_sort(${Dedup.winnowSelLambdaExpr})"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](2))
    assert(fast.length == slow.length && fast.length > 0)
    fast.zip(slow).foreach { case (f, s) => assert(f == s) }
  }

  test("sorted_intersect_count == size(array_intersect) on sorted distinct arrays") {
    val sh = Dedup.shingled(t(spark, dir, "documents").limit(80))
      .withColumn("sorted", sort_array(col("grams")))
    val pairs = sh.as("a").crossJoin(sh.as("b")).limit(2000)
      .select(col("a.sorted").as("x"), col("b.sorted").as("y"))
      .withColumn("fast", expr("sorted_intersect_count(x, y)"))
      .withColumn("slow", size(array_intersect(col("x"), col("y"))).cast("long"))
    assert(pairs.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("simhash32 == 32-term lambda formulation") {
    val docs = t(spark, dir, "documents").limit(50)
    val fast = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val slow = Dedup.simhashViaLambdas(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fast == slow)
  }

  test("lsh_keys == composed per-plane quantized_dot formulation") {
    val S = graft.ops.Similarity
    val q = t(spark, dir, "embeddings")
      .select(col("vec_id"), expr(S.quantExpr).as("qv"))
      .withColumn("fast", expr(s"lsh_keys(qv, ${S.LshSeed}, ${S.LshTables}, ${S.LshBits}, ${S.Dim})"))
      .withColumn("slow", S.lshKeysComposed)
    assert(q.filter(not(col("fast") <=> col("slow"))).count() == 0)
    assert(q.count() > 0)
  }

  test("lsh_keys malformed-vector parity: wrong length, null elements, NULL vector") {
    val S = graft.ops.Similarity
    import spark.implicits._
    // wrong-length vector, a vector with a null slot, and a fully-NULL
    // vector: composed form yields all-zero-bit keys (NULL dot -> CASE
    // else-branch); fused must match — in particular the NULL vector must
    // BUCKET (all-zero keys), not null-propagate and vanish from explode
    val q = Seq(
      (1L, "array(1L, 2L, 3L)"),
      (2L, s"transform(sequence(1, ${S.Dim}), i -> CASE WHEN i = 7 THEN CAST(NULL AS BIGINT) ELSE CAST(i AS BIGINT) END)"),
      (3L, "CAST(NULL AS ARRAY<BIGINT>)")
    ).map { case (id, arr) =>
      spark.range(1).select(lit(id).as("vec_id"), expr(arr).cast("array<bigint>").as("qv"))
    }.reduce(_ unionByName _)
      .withColumn("fast", expr(s"lsh_keys(qv, ${S.LshSeed}, ${S.LshTables}, ${S.LshBits}, ${S.Dim})"))
      .withColumn("slow", S.lshKeysComposed)
    assert(q.filter(not(col("fast") <=> col("slow"))).count() == 0)
    val ks = q.select("fast").collect().flatMap(_.getSeq[String](0))
    assert(ks.forall(_.endsWith(":" + "0" * S.LshBits)))
  }

  test("pq_adc_sum == aggregate-lambda lookup formulation; bounds -> NULL") {
    // flat = 2 spaces x 3 entries; codes pick one entry per space
    val df = spark.range(1).selectExpr(
      "CAST(array(10, 20, 30, 40, 50, 60) AS ARRAY<BIGINT>) AS flat",
      "CAST(array(2, 0) AS ARRAY<BIGINT>) AS codes")
      .withColumn("fast", expr("pq_adc_sum(flat, codes)"))
      .withColumn("slow", expr(
        """aggregate(sequence(0, size(codes) - 1), 0L,
           (acc, s) -> acc + element_at(flat,
             CAST(s * (size(flat) DIV size(codes)) + element_at(codes, s + 1) + 1 AS INT)))"""))
    val r = df.select("fast", "slow").collect()(0)
    assert(r.getLong(0) == 30L + 40L && r.getLong(0) == r.getLong(1))
    // out-of-range code and ragged table -> NULL, never a wrong lookup
    val bad = spark.range(1).selectExpr(
      "pq_adc_sum(CAST(array(1, 2) AS ARRAY<BIGINT>), CAST(array(5) AS ARRAY<BIGINT>)) AS oob",
      "pq_adc_sum(CAST(array(1, 2, 3) AS ARRAY<BIGINT>), CAST(array(0, 1) AS ARRAY<BIGINT>)) AS ragged")
      .collect()(0)
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  test("SQL builders reject a bad integer argument at analysis, naming the function") {
    val from = "FROM VALUES (array('a b c', 'b c d'), 7) AS t(g, id)"
    Seq(
      "minhash_sig(g, 32L)" -> "minhash_sig",
      "minhash_sig(g, id)" -> "minhash_sig",
      "minhash_bands(g, 32, 0)" -> "minhash_bands").foreach { case (call, fn) =>
      // spark.sql analyzes eagerly and nothing here runs an action: the
      // failure comes from analysis, before any task
      val e = intercept[Exception](spark.sql(s"SELECT $call $from"))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
      assert(msgs.exists(_.contains(fn)), s"$call: ${msgs.mkString(" / ")}")
    }
  }

  test("register makes every builder name resolve on a session without them, once") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val b64 = java.util.Base64.getEncoder.encodeToString(
      graft.streaming.SftStream.benchBloomBytes(spark))
    val calls = Map(
      "quantized_dot" -> "quantized_dot(array(1L, 2L), array(3L, 4L))",
      "minhash_sig" -> "minhash_sig(array('a b c'), 4)",
      "simhash32" -> "simhash32(array('a', 'b'))",
      "sorted_intersect_count" -> "sorted_intersect_count(array('a', 'b'), array('b'))",
      "word_shingles" -> "word_shingles(array('a', 'b', 'c'), 3)",
      "word_gram_md5" -> "word_gram_md5(array('a', 'b'), 2)",
      "any_word_gram_in_bloom" -> s"any_word_gram_in_bloom('a b c', 2, '$b64')",
      "hamming_str" -> "hamming_str('0101', '0011')",
      "minhash_bands" -> "minhash_bands(array('a b c'), 4, 2)",
      "lsh_keys" -> "lsh_keys(array(1L, -2L), 42, 2, 3, 2)",
      "pq_adc_sum" -> "pq_adc_sum(array(1L, 2L, 3L, 4L), array(1L, 0L))",
      "rolling_hash" -> "rolling_hash('ab')",
      "space_token_count" -> "space_token_count('a b')",
      "md5_prefix_long" -> "md5_prefix_long('a', 8)",
      "winnow_select" -> "winnow_select(array('a', 'b', 'c'), 2, 2, 2000000000L)",
      "bloom_filter_agg" -> "bloom_filter_agg(xxhash64(id), 10L, 64L)",
      "might_contain" -> ("might_contain((SELECT bloom_filter_agg(xxhash64(id), 10L, 64L) " +
        "FROM range(3)), xxhash64(id))"))
    val names = GraftFunctions.builders.map(_._1)
    assert(calls.keySet == names.toSet, "one call per builder name")
    def run(name: String) = s.sql(s"SELECT ${calls(name)} FROM range(3)").collect()
    names.foreach(n => reg.dropFunction(FunctionIdentifier(n)))
    names.foreach(n => intercept[Exception](run(n)))
    GraftFunctions.register(s)
    names.foreach(n => assert(run(n).nonEmpty, n))
    val before = names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    GraftFunctions.register(s)
    val after = names.map(n => reg.lookupFunctionBuilder(FunctionIdentifier(n)).get)
    assert(before.zip(after).forall { case (x, y) => x eq y }, "a second register replaced a builder")
  }
}
