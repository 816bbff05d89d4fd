package graft

/** The SQL-text surface: registered views + extension functions let a
  * user run whole analyses as `spark.sql` strings. */
class SqlSurfaceSpec extends SparkSpec {

  test("views + custom functions compose in plain SQL") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val r = spark.sql(
      """SELECT event_type,
           count(*) AS n,
           round(avg(value), 4) AS avg_value,
           evm_topic0('Transfer(address,address,uint256)') AS t0
         FROM events
         GROUP BY event_type
         ORDER BY event_type""").collect()
    assert(r.length == 5)
    assert(r.forall(_.getString(3).startsWith("0xddf252ad")))
    val docs = spark.sql(
      """SELECT count(*) AS n FROM documents
         WHERE size(split(text, '\\s+')) > 50""").head().getLong(0)
    assert(docs > 0)
  }

  test("fingerprint + vector expressions callable from SQL text") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val r = spark.sql(
      """SELECT doc_id,
           size(shingle_h64s(filter(split(text, '\\s+'), t -> length(t) > 0), 3)) AS n_sh,
           simhash64(filter(split(text, '\\s+'), t -> length(t) > 0), 48) AS sh,
           size(minhash_sig(shingle_h64s(filter(split(text, '\\s+'), t -> length(t) > 0), 3), 16)) AS k,
           size(winnow_fps(filter(split(text, '\\s+'), t -> length(t) > 0), 3, 4)) AS n_fp,
           vec_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS dp
         FROM documents WHERE doc_id < 5 ORDER BY doc_id""").collect()
    assert(r.length == 5)
    assert(r.forall(_.getLong(5) == 32L)) // 4+10+18
    assert(r.forall(x => x.getInt(3) == 16))
    assert(r.forall(x => x.getInt(1) > 0 && x.getInt(4) > 0))
  }

  test("uint256_sum + kmv_distinct aggregates callable from SQL text") {
    val r = spark.sql(
      // two max-uint64 words and a 2^200 word: the exact sum needs
      // arbitrary precision (≈1.6e60), far past DECIMAL(38,0)
      """SELECT uint256_sum(w) AS total FROM (
           SELECT unhex(repeat('0', 48) || repeat('f', 16)) AS w
           UNION ALL SELECT unhex(repeat('0', 48) || repeat('f', 16))
           UNION ALL SELECT unhex('01' || repeat('0', 62))
         )""").collect()
    val expected = (BigInt("ffffffffffffffff", 16) * 2 + (BigInt(1) << 248))
    assert(BigInt(r(0).getString(0)) == expected)
    val k = spark.sql(
      """SELECT kmv_distinct(CAST(id AS LONG) * 1152921504, 8) AS est
         FROM range(5)""").collect()
    assert(k(0).getDouble(0) == 5.0) // < k distinct → exact count
    val g = spark.sql(
      """SELECT gram_fx(array(CAST(id AS LONG), 2L)) AS g FROM range(1, 3)""")
      .collect()(0).getSeq[Long](0)
    // Σ v·vᵀ for (1,2) and (2,2): [[5,6],[6,8]] row-major
    assert(g == Seq(5L, 6L, 6L, 8L))
    val dr = spark.sql(
      """SELECT drop_repeated_windows(array('a','b','a','b','c'), 2) AS k""")
      .collect()(0).getSeq[String](0)
    // window (a,b) repeats at position 2 → positions 2,3 drop
    assert(dr == Seq("a", "b", "c"))
  }

  test("window + rollup SQL over the star schema") {
    Tables.registerViews(spark, "/root/testdata/sf0.001")
    val r = spark.sql(
      """SELECT o_orderpriority, n,
           rank() OVER (ORDER BY total DESC) AS rnk
         FROM (SELECT o_orderpriority, count(*) AS n,
                 sum(o_totalprice) AS total
               FROM orders GROUP BY 1)
         ORDER BY rnk""").collect()
    assert(r.nonEmpty && r.head.getInt(2) == 1)
  }

  test("a wrong argument count names the function and its signature") {
    val sigs = Seq(
      "hex0x(bytes binary) -> string" -> Seq("hex0x()", "hex0x(b, b)"),
      "shingle_h64s(tokens array<string>, n const int) -> array<bigint>" ->
        Seq("shingle_h64s(t)", "shingle_h64s(t, 2, 3)"),
      "kmv_distinct(hash bigint, k const int) -> double" ->
        Seq("kmv_distinct(k)", "kmv_distinct(k, 8, 9)"))
    for ((sig, calls) <- sigs; call <- calls) {
      val e = intercept[Exception](spark.sql(
        s"SELECT $call FROM VALUES (X'00', array('a'), 1L) AS v(b, t, k)").collect())
      assert(e.getMessage.contains(sig), s"$call: ${e.getMessage}")
    }
  }

  test("literal evm_topic0/keccak256 constant-fold at plan time") {
    val df = spark.sql(
      "SELECT evm_topic0('Transfer(address,address,uint256)') AS t")
    val p = df.queryExecution.optimizedPlan.toString
    // ConstantFolding must have replaced the call with the hash literal
    assert(p.contains("0xddf252ad") && !p.contains("evm_topic0"),
      s"literal topic0 not folded:\n$p")
    assert(df.head().getString(0).startsWith("0xddf252ad"))
    val p2 = spark.sql("SELECT keccak256(CAST('' AS BINARY)) AS h")
      .queryExecution.optimizedPlan.toString
    assert(!p2.contains("keccak256"), s"literal keccak not folded:\n$p2")
  }
}
