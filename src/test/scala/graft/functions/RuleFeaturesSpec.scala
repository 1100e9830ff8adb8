package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RuleFeatures against the SQL-lambda form of the rule-corpus decoration
  * and its counts, kept here as the reference: the decoration built as
  * arrays of lines and words, counted with built-ins and lambdas. */
class RuleFeaturesSpec extends graft.SparkSpec {
  import spark.implicits._

  /** The nine counts of the SQL form, one column each. */
  private def reference(docs: DataFrame): DataFrame =
    docs
      .withColumn("words0", split(col("text"), " "))
      .withColumn("lines0", expr(
        "transform(sequence(0, (size(words0)-1) div 10), " +
          "i -> array_join(slice(words0, i*10+1, 10), ' '))"))
      .withColumn("lines1", expr(
        "CASE WHEN doc_id % 11 = 0 THEN transform(lines0, l -> '- ' || l) " +
          "ELSE lines0 END"))
      .withColumn("lines2", expr(
        "CASE WHEN doc_id % 13 = 0 THEN transform(lines1, l -> l || ' ...') " +
          "ELSE lines1 END"))
      .withColumn("rlines", expr(
        """concat(lines2,
             CASE WHEN doc_id % 7 = 0
                  THEN array(rtrim(repeat('# ', greatest(1, size(words0) div 8))))
                  ELSE array() END,
             CASE WHEN doc_id % 17 = 0
                  THEN array(rtrim(repeat(
                    'pneumonoultramicroscopicsilicovolcanoconiosis ',
                    greatest(1, size(words0) div 3))))
                  ELSE array() END,
             CASE WHEN doc_id % 19 = 0
                  THEN array(rtrim(repeat('12345 ', greatest(1, size(words0) div 3))))
                  ELSE array() END)"""))
      .withColumn("rtext", array_join(col("rlines"), "\n"))
      .withColumn("rwords", split(expr("replace(rtext, chr(10), ' ')"), " "))
      .select(col("doc_id"),
        size(col("rwords")).cast("long").as("n_words"),
        size(col("rlines")).cast("long").as("n_lines"),
        length(expr("replace(replace(rtext, chr(10), ''), ' ', '')")).cast("long").as("n_ns"),
        (length(col("rtext")) - length(expr("replace(rtext, '#', '')"))).cast("long")
          .as("n_hash"),
        expr("CAST((length(rtext) - length(replace(rtext, '...', ''))) div 3 AS BIGINT)")
          .as("n_dots"),
        expr("CAST(size(filter(rlines, l -> l like '- %')) AS BIGINT)").as("n_bullet"),
        expr("CAST(size(filter(rlines, l -> l like '%...')) AS BIGINT)").as("n_eline"),
        expr("CAST(size(filter(rwords, w -> w rlike '[a-z]')) AS BIGINT)").as("n_alpha"),
        expr("CAST(size(array_distinct(filter(rwords, " +
          "w -> w IN ('the','a','of','and','to')))) AS BIGINT)").as("n_stopd"))

  private def features(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), RuleFeatures(col("doc_id"), col("text")).as("rf"))
      .select(col("doc_id") +: RuleFeatures.fields.map(f => col(s"rf.$f").as(f)): _*)

  private def assertSame(docs: DataFrame): Unit = {
    val want = reference(docs).orderBy("doc_id").collect().toSeq
    val got = features(docs).orderBy("doc_id").collect().toSeq
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"doc ${w.get(0)}") }
  }

  private val words = (1 to 60).map(i => Seq("the", "of", "alpha", "beta", "to")(i % 5))

  /** Adversarial texts, each placed under doc_ids hitting every residue
    * of the decoration (7, 11, 13, 17, 19), products of them, and none. */
  private val texts: Seq[Option[String]] = Seq(
    Some(""), None, Some("one"), Some("a"),
    Some("the  of   and    to"), Some("trailing space "), Some(" leading"),
    Some("     "), Some(words.mkString(" ")), Some(words.mkString(" ") + " "),
    Some(words.take(10).mkString(" ")), Some(words.take(11).mkString(" ")),
    Some("naïve café über straße ñandú the of"), Some("日本語 テキスト 中文 a and"),
    Some(".... ..... ...... . .. ... end"), Some("word... ...word .a. ..."),
    Some("# ## ### - -- --- #a -a"), Some("- - - - - - - - - - - - - - -"),
    Some((1 to 25).map(_ => "...").mkString(" ")),
    Some("line\nbreak inside\n\nthe text"), Some("UPPER Case Only WORDS"),
    Some("12345 67890 the the the"))

  private val ids: Seq[Long] = Seq(1L, 7L, 11L, 13L, 17L, 19L, 77L, 143L, 221L, 323L, 1001L,
    7L * 11 * 13 * 17 * 19, 0L, -11L, 2L)

  test("RuleFeatures equals the SQL-lambda decoration counts on adversarial rows") {
    // each text meets every residue class: its ids are the residue ids
    // shifted by a multiple of every modulus, one disjoint block per text
    val block = 2L * 7 * 11 * 13 * 17 * 19
    val docs = (for ((t, ti) <- texts.zipWithIndex; id <- ids)
      yield (id + block * ti, t.orNull)).toDF("doc_id", "text")
    assertSame(docs)
  }

  /** 2,000 generated docs, built-ins only: substrings (0–899 chars, at
    * shifting offsets) of a repeated run of stop words, letters,
    * non-ASCII, `...`, `#`, `-`, digits and a double space, over
    * consecutive doc_ids (every residue combination up to 7·11·13). */
  private def generated = spark.range(2000).select(col("id").as("doc_id"),
    expr("""substr(repeat('the a of and to data naïve ... # - 12345  x.. ##', 40),
      1 + CAST(pmod(id * 7, 50) AS INT), CAST(id % 900 AS INT))""").as("text"))

  test("RuleFeatures equals the SQL-lambda decoration counts on generated docs") {
    assertSame(generated)
  }

  test("a null text gives a null struct; a null doc_id decorates nothing") {
    val r = Seq[(Option[Long], Option[String])]((None, Some("a b")), (Some(1L), None))
      .toDF("doc_id", "text")
      .select(RuleFeatures(col("doc_id"), col("text")).as("rf")).collect()
    assert(r(0).getStruct(0).toSeq === Seq(2L, 1L, 2L, 0L, 0L, 0L, 0L, 2L, 1L))
    assert(r(1).isNullAt(0))
  }

  test("the counts project inside whole-stage codegen") {
    val df = generated.select(RuleFeatures(col("doc_id"), col("text")).as("rf"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("rule_features")), p)
  }
}
