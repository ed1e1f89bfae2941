package graft

import org.apache.spark.sql.functions._

/** Physical-encoding drift lock for the RELATIONAL tables — the sibling
  * of EventsEncodingSpec (the harness re-encoded events.ts once between
  * rounds and broke 7 queries at analysis; the plausible next drifts are
  * DECIMAL-typed money, DATE-typed dates, and narrowed int keys). This
  * spec rewrites lineitem/orders/customer at sf0.001 under exactly those
  * drifted physical types and asserts representative queries return
  * ROW-IDENTICAL results through `Tables`' canonicalization:
  *
  *  - money/qty/rates as DECIMAL(12,2) — exact for the ≤2-decimal values,
  *    so canonical DOUBLE restores the original values bit-for-bit;
  *  - o_orderdate / l_shipdate as DATE — lossless: the harness dates are
  *    all midnight-valued;
  *  - dimension keys as int32 — the engine reads keys via joins and
  *    `getAs[Number]`, so width must not matter.
  */
class TableDriftSpec extends SparkSpec {

  test("relational queries survive decimal-money / DATE-date / int32-key re-encodes") {
    val base = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val rewritten = Set("lineitem", "orders", "customer")
    // copy every other table unchanged; the three drifted ones are written
    new java.io.File(sfDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") &&
        !rewritten(f.getName.stripSuffix(".parquet")))
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(base, f.getName)))
    def rewrite(name: String)(tx: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      tx(spark.read.parquet(s"$sfDir/$name.parquet"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/$name.parquet")
    rewrite("lineitem")(df => df
      .withColumn("l_quantity", col("l_quantity").cast("decimal(12,2)"))
      .withColumn("l_extendedprice", col("l_extendedprice").cast("decimal(12,2)"))
      .withColumn("l_discount", col("l_discount").cast("decimal(12,2)"))
      .withColumn("l_tax", col("l_tax").cast("decimal(12,2)"))
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .withColumn("l_suppkey", col("l_suppkey").cast("int")))
    rewrite("orders")(df => df
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(12,2)"))
      .withColumn("o_orderdate", col("o_orderdate").cast("date")))
    rewrite("customer")(df => df
      .withColumn("c_acctbal", col("c_acctbal").cast("decimal(12,2)"))
      .withColumn("c_custkey", col("c_custkey").cast("int")))

    // representative coverage: full-width lineitem aggregation with every
    // Exact idiom over the drifted money/date columns (q01), a
    // date-filtered multi-join (q03), the deep join tree with
    // micro-dollar revenue (q112), and a customer-spend window over the
    // drifted int32 custkey (q74)
    val names = Seq("q01_pricing_summary", "q03_shipping_priority",
      "q112_market_share", "q74_rolling_spend")
    for (name <- names) {
      val q = SparkEntry.queries.getOrElse(name,
        fail(s"$name not registered — fix the spec's query list"))
      val ref = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = q(spark, base).collect().map(_.toString).sorted.toSeq
      assert(ref.nonEmpty, s"$name: empty baseline")
      assert(got == ref, s"$name: drifted-encoding result differs")
    }
  }

  test("document queries survive an int32 doc_id re-encode") {
    // doc_id is consumed via string-casts (hash salts), joins and sums —
    // all width-agnostic; lock that with the sampler (hash selection +
    // id_sum audit) and the takedown sweep (anti-join + XOR fingerprint)
    val base = java.nio.file.Files.createTempDirectory("graft-drift-doc").toString
    new java.io.File(sfDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != "documents.parquet")
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(base, f.getName)))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("doc_id", col("doc_id").cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/documents.parquet")
    for (name <- Seq("q124_exact_stratified_sample", "q127_takedown_propagation",
        "q128_cdc_merge_apply", "q137_bm25_retrieval", "q144_token_budget_selection")) {
      val q = SparkEntry.queries.getOrElse(name,
        fail(s"$name not registered — fix the spec's query list"))
      val ref = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = q(spark, base).collect().map(_.toString).sorted.toSeq
      assert(ref.nonEmpty && got == ref, s"$name: int32-doc_id result differs")
    }
  }

  test("a table rewritten at the same path is read with its new schema") {
    // Tables reuses an inferred schema per file state; a rewrite in the
    // same session must not be read through the old one
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = java.nio.file.Files.createTempDirectory("graft-drift-same").toString
    val docs = java.nio.file.Paths.get(base, "documents.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "documents.parquet"), docs)
    val q = SparkEntry.queries("q124_exact_stratified_sample")
    val ref = q(spark, base).collect().map(_.toString).sorted.toSeq
    assert(Tables.documents(spark, base).schema("doc_id").dataType == LongType)
    val staged = s"$base/staged"
    spark.read.parquet(docs.toString)
      .withColumn("doc_id", col("doc_id").cast("int"))
      .coalesce(1).write.parquet(staged)
    java.nio.file.Files.delete(docs)
    java.nio.file.Files.move(java.nio.file.Paths.get(staged), docs)
    assert(Tables.documents(spark, base).schema("doc_id").dataType == IntegerType,
      "the rewritten file must be read with its new physical type")
    val got = q(spark, base).collect().map(_.toString).sorted.toSeq
    assert(ref.nonEmpty && got == ref, "q124 differs over the rewritten table")
  }

  test("similarity queries survive a float→double embedding re-encode") {
    // every embedding kernel quantizes via an element-wise cast-to-double
    // (llm/Similarity.quantize), so array<double> embeddings must be
    // absorbed without an analysis error or value change
    val base = java.nio.file.Files.createTempDirectory("graft-drift-emb").toString
    new java.io.File(sfDir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != "embeddings.parquet")
      .foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(base, f.getName)))
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/embeddings.parquet")
    for (name <- Seq("q44_cosine_topk", "q70_int8_ann_topk",
        "q129_mmr_selection", "q134_embedding_outliers",
        "q139_ann_recall_audit", "q145_crossmodal_purity")) {
      val q = SparkEntry.queries.getOrElse(name,
        fail(s"$name not registered — fix the spec's query list"))
      val ref = q(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = q(spark, base).collect().map(_.toString).sorted.toSeq
      assert(ref.nonEmpty && got == ref, s"$name: double-embedding result differs")
    }
  }
}
