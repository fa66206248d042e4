package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Parquet

/** The generic hashed char-3-gram LINEAR text classifier core
  * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification") shared by [[LangId]] (language identification) and
  * [[QualityClassifier]] (model-based quality filtering — the
  * DCLM/FineWeb-Edu gate): char n-grams hashed into a fixed bucket
  * table, one integer dot product per class, argmax with fixed
  * tie-break, margin as the confidence signal.
  *
  * Everything is INTEGER end-to-end: weights come from a deterministic
  * multiclass perceptron (fixed epoch/sentence order, no floats, no
  * RNG) over an embedded fixture at object init, so they are constants
  * shared verbatim by the Spark plan (array literals in a codegen HOF)
  * and generated oracle SQL (list literals). Serving is ONE projection —
  * no shuffle, no UDF, no join.
  *
  * Two bucket functions: the md5-based [[TextOps.hash60]] (SQL-
  * replayable — the oracle path) and the one-pass rolling ring hash
  * ([[graft.functions.CharWindowHashes]], measured 10× cheaper, no SQL
  * mirror — the corpus-scale path); weights are trained per bucket
  * function.
  */
object TextClassifier {

  /** JVM-side mirror of [[TextOps.hash60]]: first 15 hex chars of md5
    * parsed base-16 (60 bits, always non-negative).
    */
  def hash60Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private def grams3(s: String): Seq[String] =
    if (s.length < 3) Seq.empty
    else (0 to s.length - 3).map(i => s.substring(i, i + 3))

  /** Training features under the md5 bucket function. */
  def bucketsMd5(s: String, b: Int): Map[Int, Long] =
    grams3(s).groupBy(g => (hash60Local(g) % b).toInt)
      .map { case (k, gs) => k -> gs.size.toLong }

  /** JVM mirror of [[graft.functions.CharWindowHashes]] (base-31
    * polynomial over code points in Z/2^64) bucketed mod b — must stay
    * bit-identical to the expression.
    */
  def bucketsRing(s: String, b: Int): Map[Int, Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < 3) Map.empty
    else (0 to cps.length - 3)
      .map { i =>
        val h = (cps(i).toLong * 31 + cps(i + 1)) * 31 + cps(i + 2)
        (((h % b) + b) % b).toInt
      }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
  }

  /** Deterministic multiclass perceptron: 10 epochs, fixture order
    * fixed, tie → lowest class index — bit-reproducible. (Averaging is
    * skipped: with a linearly separable fixture the final weights
    * converge and stay integer.)
    */
  def train(fixture: Seq[(String, String)], classes: Seq[String], b: Int,
      feat: String => Map[Int, Long]): IndexedSeq[IndexedSeq[Long]] = {
    val w = Array.fill(classes.length, b)(0L)
    val feats = fixture.map { case (l, s) =>
      (classes.indexOf(l), feat(s.toLowerCase)) }
    for (_ <- 1 to 10; (y, f) <- feats) {
      val scores = w.map(wl => f.iterator.map { case (k, c) => wl(k) * c }.sum)
      val pred = scores.indices.maxBy(i => (scores(i), -i))
      if (pred != y) f.foreach { case (k, c) =>
        w(y)(k) += c
        w(pred)(k) -= c
      }
    }
    w.map(_.toIndexedSeq).toIndexedSeq
  }

  /** Fit the perceptron on a LABELED RELATION — the "train on your own
    * corpus" path a DCLM/FineWeb-Edu-style run needs (the embedded
    * fixtures in [[LangId]]/[[QualityClassifier]] are stand-ins that
    * double as oracle constants; production gates are fit on
    * corpus-derived labels). The training set is the hash-gated
    * lowest-`maxSamples` sample (the [[Similarity.ivfIndex]] /
    * PQ-codebook pattern): membership is a pure function of the row id
    * — independent of partitioning, stable under corpus append-growth
    * in distribution — and the collected rows are re-sorted by id so
    * the perceptron's update ORDER is deterministic too (perceptrons
    * are order-sensitive; an unordered collect would give
    * partitioning-dependent weights). Driver memory is bounded by
    * maxSamples · avg-text-size, the same contract as the k-means
    * samplers. Rows with labels outside `classes` or NULL text are
    * excluded. Returns the weight table to pass to [[classifyWith]].
    */
  def trainFromDF(labeled: DataFrame, idCol: String, labelCol: String,
      textCol: String, classes: Seq[String], b: Int,
      feat: String => Map[Int, Long], maxSamples: Int = 100000)
      : IndexedSeq[IndexedSeq[Long]] = {
    require(classes.nonEmpty && maxSamples >= 1)
    val sample = labeled
      .select(col(idCol).cast("long").as("__id"),
        col(labelCol).cast("string").as("__l"),
        col(textCol).cast("string").as("__t"))
      .filter(col("__l").isin(classes: _*) && col("__t").isNotNull)
      .orderBy(TextOps.hash60(concat(lit("clftrain:"),
        col("__id").cast("string"))), col("__id"))
      .limit(maxSamples)
      .orderBy("__id")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    require(sample.nonEmpty,
      s"trainFromDF: no rows with a label in ${classes.mkString("/")} and non-null $textCol")
    train(sample, classes, b, feat)
  }

  private def gmax(cs: Seq[Column]): Column =
    if (cs.size == 1) cs.head else greatest(cs: _*)

  /** The md5 (oracle-path) bucket expression over lowercased text. */
  def md5Buckets(textCol: String, b: Int): Column = {
    val t = lower(col(textCol))
    // sequence(1, 0) DESCENDS in Spark — guard short strings explicitly
    val grams = when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    transform(grams, g => TextOps.hash60(g) % b)
  }

  /** The rolling-ring (fast-path) bucket expression. */
  def ringBuckets(textCol: String, b: Int): Column =
    transform(graft.functions.CharWindowHashes(lower(col(textCol)), 3),
      h => pmod(h, lit(b.toLong)))

  /** Per-class integer scores + argmax prediction + margin. One codegen
    * projection: the bucket array is materialized ONCE into an
    * intermediate column (HOF lambdas re-evaluate their argument per
    * element — without the barrier each class's fold would re-run every
    * hash), then each class is one `aggregate(...)` fold against its
    * inlined weight literal. `margin` = score(pred) − best other score,
    * the fastText confidence signal (threshold it to emit 'und'/reject).
    */
  def classifyWith(docs: DataFrame, idCol: String, buckets: Column,
      classes: Seq[String], weights: IndexedSeq[IndexedSeq[Long]],
      predCol: String): DataFrame = {
    val scored = docs.select(col(idCol), buckets.as("__bk"))
    val withScores = scored.select(
      col(idCol) +: classes.zipWithIndex.map { case (l, li) =>
        aggregate(col("__bk"), lit(0L),
          (acc, b) => acc + element_at(typedLit(weights(li).toArray),
            b.cast("int") + 1)).as(s"score_$l")
      }: _*)
    val s: String => Column = l => col(s"score_$l")
    def others(l: String) = classes.filterNot(_ == l).map(s)
    val lastL = classes.last
    withScores.select(
      col(idCol) +: classes.map(l => s(l).as(s"score_$l")) :+
        classes.init.foldRight(lit(lastL): Column) { (l, rest) =>
          when(s(l) >= gmax(classes.dropWhile(_ != l).tail.map(s)), lit(l))
            .otherwise(rest)
        }.as(predCol) :+
        classes.init.foldRight(s(lastL) - gmax(others(lastL))) { (l, rest) =>
          when(s(l) >= gmax(classes.dropWhile(_ != l).tail.map(s)),
            s(l) - gmax(others(l)))
            .otherwise(rest)
        }.as("margin"): _*)
  }

  /** The full fit-on-YOUR-corpus → serve loop (the DCLM / FineWeb-Edu
    * workflow: derive weak labels from a rule or teacher, fit the cheap
    * linear gate, serve it over the held-out corpus) as one call:
    *
    *   1. fit on `labeled` via [[trainFromDF]] — hash-gated ≤
    *      `maxSamples` sample, id-resorted, so the weights are a pure
    *      function of the labeled RELATION, not of its partitioning;
    *   2. serve on `heldOut` (which must carry `labelCol` too — the
    *      weak label it was NOT trained on) as ONE codegen projection
    *      ([[classifyWith]] over [[md5Buckets]], the same bucket
    *      function training used);
    *   3. attach the held-out agreement rate as a one-row broadcast
    *      and FAIL THE PLAN (`assert_true`, the p7/withRecall
    *      certificate shape) if it falls below `agreementFloor` — a
    *      serving run with silently-drifted weights dies loudly.
    *
    * Training is a driver-side loop (perceptrons are order-sensitive —
    * not SQL-replayable, the p47/p62 class), so queries built on this
    * are rows-only with the in-plan certificate standing in for the
    * oracle. Output: `(id, score_*, pred, margin, weak_label, agree,
    * mean_agreement)`.
    */
  def trainAndServe(labeled: DataFrame, heldOut: DataFrame, idCol: String,
      labelCol: String, textCol: String, classes: Seq[String], b: Int,
      maxSamples: Int = 20000, agreementFloor: Double = 0.0,
      fast: Boolean = false): DataFrame = {
    // fast = the rolling-ring feature family on BOTH the trainer and
    // the serve projection (they must match): ~10× cheaper than
    // md5-per-gram — the right default for a gate that is certified
    // in-plan rather than oracle-replayed. md5 stays the default for
    // callers that want the oracle-mirrorable bucket function.
    val feat: String => Map[Int, Long] =
      if (fast) bucketsRing(_, b) else bucketsMd5(_, b)
    val weights = trainFromDF(labeled, idCol, labelCol, textCol, classes, b,
      feat, maxSamples)
    serveCertified(heldOut, idCol, labelCol, textCol, classes, b, weights,
      agreementFloor, fast)
  }

  /** The SERVE half of [[trainAndServe]] — classification of `heldOut`
    * under already-trained `weights` plus the in-plan held-out-agreement
    * certificate. Factored out (r13) so a persisted trained gate (the
    * p100-style build-once artifact) serves without re-running the
    * driver-loop trainer; the certificate still computes for real on
    * every invocation. `fast` must match the family the weights were
    * trained with (pin it in the artifact's meta).
    */
  def serveCertified(heldOut: DataFrame, idCol: String, labelCol: String,
      textCol: String, classes: Seq[String], b: Int,
      weights: IndexedSeq[IndexedSeq[Long]], agreementFloor: Double,
      fast: Boolean): DataFrame = {
    val buckets = if (fast) ringBuckets(textCol, b) else md5Buckets(textCol, b)
    val served = classifyWith(heldOut, idCol, buckets,
      classes, weights, "pred")
      .join(heldOut.select(col(idCol),
        col(labelCol).cast("string").as("weak_label")), idCol)
      .withColumn("agree", col("pred") === col("weak_label"))
    val mean = served.agg(round(avg(col("agree").cast("double")), 6)
      .as("mean_agreement"))
    served.crossJoin(broadcast(mean))
      .filter(assert_true(col("mean_agreement") >= lit(agreementFloor),
        concat(lit(s"trained gate's held-out agreement fell below " +
          s"$agreementFloor: "), col("mean_agreement").cast("string"))).isNull)
  }

  /** Persist trained weights with their full serving envelope (classes,
    * bucket count, feature family) — the [[TokenizerIO]] discipline: a
    * later load under a DIFFERENT envelope must fail loudly, never
    * serve silently-wrong scores.
    */
  def saveWeights(spark: SparkSession, path: String, classes: Seq[String],
      b: Int, fast: Boolean, weights: IndexedSeq[IndexedSeq[Long]]): Unit = {
    import spark.implicits._
    Seq((classes.mkString(","), b, if (fast) "ring" else "md5"))
      .toDF("classes", "b", "family")
      .write.mode("overwrite").parquet(s"$path/meta")
    weights.zipWithIndex
      .flatMap { case (ws, li) =>
        ws.zipWithIndex.map { case (w, bi) => (li, bi, w) }
      }
      .toDF("class_idx", "bucket", "w")
      .write.mode("overwrite").parquet(s"$path/weights")
  }

  /** Load weights saved by [[saveWeights]], validating the envelope. */
  def loadWeights(spark: SparkSession, path: String, classes: Seq[String],
      b: Int, fast: Boolean): IndexedSeq[IndexedSeq[Long]] = {
    val meta = Parquet.read(spark, s"$path/meta")
      .select(col("classes").cast("string"), col("b").cast("int"),
        col("family").cast("string")).collect()
    require(meta.length == 1, s"loadWeights: expected ONE meta row at $path")
    val want = (classes.mkString(","), b, if (fast) "ring" else "md5")
    val got = (meta(0).getString(0), meta(0).getInt(1), meta(0).getString(2))
    require(got == want,
      s"loadWeights: stored envelope $got at $path does not match the " +
        s"serving envelope $want — scores would be silently wrong")
    val rows = Parquet.read(spark, s"$path/weights")
      .select(col("class_idx").cast("int"), col("bucket").cast("int"),
        col("w").cast("long")).collect()
    require(rows.length == classes.size * b,
      s"loadWeights: ${rows.length} weight rows at $path, " +
        s"expected ${classes.size * b}")
    val out = Array.fill(classes.size)(new Array[Long](b))
    rows.foreach(r => out(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    out.map(_.toIndexedSeq).toIndexedSeq
  }

  /** The md5-path scoring as a complete DuckDB query generated from the
    * same weight constants. `srcCte` must produce (doc_id, __t) with
    * __t already lowercased.
    */
  def scoreSqlFrom(srcCte: String, classes: Seq[String], b: Int,
      weights: IndexedSeq[IndexedSeq[Long]], predCol: String): String = {
    val scores = classes.zipWithIndex.map { case (l, li) =>
      s"""CAST(coalesce(list_sum(list_transform(bk,
         |             b -> (list_value(${weights(li).mkString(",")}))[(b)::INT + 1])), 0)
         |           AS BIGINT) AS score_$l""".stripMargin
    }.mkString(",\n           ")
    val pred = classes.init.reverse.foldLeft(s"'${classes.last}'") { (rest, l) =>
      val others = classes.dropWhile(_ != l).tail
        .map(o => s"score_$o").mkString(", ")
      s"CASE WHEN score_$l >= greatest($others) THEN '$l' ELSE $rest END"
    }
    def gOthers(l: String) =
      classes.filterNot(_ == l).map(o => s"score_$o").mkString(", ")
    def g1(xs: String) = if (xs.contains(",")) s"greatest($xs)" else xs
    val margin = classes.init.reverse.foldLeft(
      s"score_${classes.last} - ${g1(gOthers(classes.last))}") { (rest, l) =>
      val later = classes.dropWhile(_ != l).tail
        .map(o => s"score_$o").mkString(", ")
      s"CASE WHEN score_$l >= ${g1(later)} " +
        s"THEN score_$l - ${g1(gOthers(l))} ELSE $rest END"
    }
    s"""WITH src AS ($srcCte),
         g AS (SELECT doc_id,
             list_transform(
               list_transform(generate_series(1, greatest(len(__t) - 2, 0)),
                 i -> substr(__t, i::INT, 3)),
               gr -> ('0x' || substr(md5(gr), 1, 15))::BIGINT % $b) AS bk
           FROM src),
         sc AS (SELECT doc_id,
           $scores
           FROM g)
         SELECT doc_id, ${classes.map(l => s"score_$l").mkString(", ")},
           $pred AS $predCol,
           CAST($margin AS BIGINT) AS margin
         FROM sc"""
  }
}

/** Model-based document-quality filtering (the gate DCLM trains a
  * fastText classifier for and FineWeb-Edu distills into one — ranked
  * by both as the single highest-impact filter in their ablations):
  * 'keep' prose vs 'toss' spam/boilerplate/keyword-stuffing/gibberish,
  * served exactly like [[LangId]] from an embedded two-class fixture.
  * The fixture is a stand-in (a production run trains on labeled
  * corpus samples via [[TextClassifier.train]] — same machinery, a
  * bigger fixture); the CLASSIFIER is the component under test.
  */
object QualityClassifier {

  val B = 1024
  val Classes: Seq[String] = Seq("keep", "toss")

  val TrainFixture: Seq[(String, String)] = Seq(
    "keep" -> "the committee published its findings after reviewing the evidence in detail",
    "keep" -> "researchers measured the effect across three independent trials and reported the variance",
    "keep" -> "the method section explains how the data were collected and which controls were used",
    "keep" -> "a clear introduction states the problem and why previous approaches fall short",
    "keep" -> "the river rises in the mountains and flows south through the valley to the sea",
    "keep" -> "students who read widely tend to write with more precision and confidence",
    "keep" -> "the recipe calls for two cups of flour and a pinch of salt mixed slowly",
    "keep" -> "historians disagree about the causes but agree the consequences were lasting",
    "toss" -> "click here buy now free offer limited time best price cheap deals click here",
    "toss" -> "buy cheap pills online no prescription fast shipping discount viagra casino bonus",
    "toss" -> "win win win free money casino jackpot slots bonus code click subscribe now",
    "toss" -> "home about contact privacy terms sitemap login register cart checkout home about",
    "toss" -> "aaaa bbbb aaaa bbbb aaaa bbbb cccc dddd cccc dddd cccc dddd eeee ffff",
    "toss" -> "qwkj zxcv qpwo eiru ghsl mznx qwkj zxcv qpwo eiru ghsl mznx vbnm",
    "toss" -> "cheap cheap cheap best best best free free free now now now buy buy",
    "toss" -> "follow like share subscribe comment below smash that bell icon link in bio")

  /** Oracle-path weights (md5 buckets). */
  val Weights: IndexedSeq[IndexedSeq[Long]] =
    TextClassifier.train(TrainFixture, Classes, B,
      TextClassifier.bucketsMd5(_, B))

  /** Fast-path weights (rolling ring buckets). */
  lazy val WeightsFast: IndexedSeq[IndexedSeq[Long]] =
    TextClassifier.train(TrainFixture, Classes, B,
      TextClassifier.bucketsRing(_, B))

  /** (doc_id, score_keep, score_toss, quality_pred, margin). */
  def classify(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextClassifier.classifyWith(docs, idCol,
      TextClassifier.md5Buckets(textCol, B), Classes, Weights, "quality_pred")

  def classifyFast(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextClassifier.classifyWith(docs, idCol,
      TextClassifier.ringBuckets(textCol, B), Classes, WeightsFast,
      "quality_pred")

  def scoreSqlFrom(srcCte: String): String =
    TextClassifier.scoreSqlFrom(srcCte, Classes, B, Weights, "quality_pred")

  /** Fit the keep/toss gate on YOUR labeled relation (the DCLM recipe:
    * label a sample — e.g. instruction-quality positives vs random
    * negatives — then train the fastText-style gate on it). md5
    * buckets, so the trained gate serves on the oracle-replayable
    * path. Serve via [[classifyWith]].
    */
  def trainFromDF(labeled: DataFrame, idCol: String, labelCol: String,
      textCol: String, maxSamples: Int = 100000): IndexedSeq[IndexedSeq[Long]] =
    TextClassifier.trainFromDF(labeled, idCol, labelCol, textCol, Classes,
      B, TextClassifier.bucketsMd5(_, B), maxSamples)

  /** Serve with corpus-trained weights (from [[trainFromDF]]). */
  def classifyWith(docs: DataFrame, idCol: String, textCol: String,
      weights: IndexedSeq[IndexedSeq[Long]]): DataFrame =
    TextClassifier.classifyWith(docs, idCol,
      TextClassifier.md5Buckets(textCol, B), Classes, weights, "quality_pred")
}
