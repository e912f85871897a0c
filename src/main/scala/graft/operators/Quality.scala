package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Publish-time data-quality audit — the validation layer a registry
  * publish runs before swapping a snapshot live (the reference
  * enforces schemas at normalize time, pipelines/normalize.py +
  * hangarbay/schemas.py; these are the row/key/reference-level checks
  * on top).
  *
  * Every check emits one (check_name, n_violations) row. Scale shape:
  * row-predicate checks over one table FUSE into a single scan
  * ([[expectAll]] — N sums in one map-side aggregate, unpivoted);
  * uniqueness is one hash-agg; referential integrity is one anti-join
  * (parent side broadcast when small, shuffle otherwise — Catalyst's
  * choice). Nothing collects; an audit over a 100 TB table costs the
  * scans, not the checks.
  */
object Quality {

  /** N row-predicate expectations over ONE scan of `df`: each is a
    * conditional sum in the same map-side aggregate, then the single
    * result row is unpivoted to (check_name, n_violations) rows. */
  def expectAll(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "no checks given")
    val sums = checks.map { case (name, violation) =>
      coalesce(sum(when(violation, 1L).otherwise(0L)), lit(0L))
        .as(s"__c_${name}")
    }
    val one = df.agg(sums.head, sums.tail: _*)
    val stacked = checks.map { case (name, _) =>
      s"'${name.replace("'", "''")}', `__c_${name}`"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${checks.size}, $stacked) AS (check_name, n_violations)")
  }

  /** Duplicate-key count: rows beyond the first per key value. */
  def expectUnique(df: DataFrame, name: String, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(col("__n") - 1), lit(0L)).cast("long")
        .as("n_violations"))
      .select(lit(name).as("check_name"), col("n_violations"))

  /** Orphaned-child count: child keys with no matching parent row
    * (NULL child keys are not orphans — use a not-null expectation
    * for those). */
  def expectReferential(
      child: DataFrame,
      parent: DataFrame,
      name: String,
      childKey: String,
      parentKey: String): DataFrame =
    // aliased on both sides: child and parent key often share a name
    child.select(col(childKey).as("__ck")).filter(col("__ck").isNotNull)
      .join(parent.select(col(parentKey).as("__pk")),
        col("__ck") === col("__pk"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("check_name"), col("n_violations"))

  /** Functional-dependency consistency audit: how functional is
    * lhs → rhs? Per lhs key: row count, distinct rhs values, the
    * DOMINANT rhs value (max count; ties broken by MIN value, so the
    * election is deterministic and engine-portable — mode() tie
    * order differs across engines), rows agreeing with it, and the
    * agreement ratio. ratio = 1.0 for every key ⟺ the FD holds
    * exactly; anything lower localizes the violating keys — the
    * profiling step before enforcing a dependency or repairing to
    * the majority value (Metanome-style FD discovery reduced to the
    * one candidate pair under test).
    *
    * Two hash aggregates, both shuffling on the lhs key (the second
    * reuses the first's partitioning — no extra exchange): scales as
    * any groupBy; output is |lhs domain| rows. */
  def fdConsistency(df: DataFrame, lhs: Column, rhs: Column): DataFrame =
    df.groupBy(lhs.as("key"), rhs.as("val"))
      .agg(count(lit(1)).as("n"))
      .groupBy("key")
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_vals"),
        min(struct((-col("n")).as("negn"), col("val").as("v")))
          .as("__dom"))
      .select(col("key"), col("n_rows"), col("n_vals"),
        col("__dom.v").as("dominant_val"),
        (-col("__dom.negn")).as("n_consistent"),
        (floor((-col("__dom.negn")) / col("n_rows") * 10000) / 10000)
          .as("consistency"))

  /** One-pass column profiler: per-column row/null/distinct counts
    * plus min/max, over a SINGLE aggregate of one scan — the
    * "describe my table" primitive a registry status call needs
    * without N per-column scans.
    *
    * Numeric columns report min/max as doubles (`min_num`/`max_num`);
    * string columns as strings (`min_str`/`max_str`) — keeping the
    * output schema fixed and engine-portable (no numeric→string casts,
    * whose text forms differ across engines). Exact multi-column
    * distinct counts plan through Catalyst's Expand (one shuffle,
    * input replicated ×|cols| map-side — the canonical exact plan;
    * swap in approx_count_distinct per column if a 100 TB profile can
    * tolerate ~2% error and wants the Expand gone). String min/max
    * aggregate in a SEPARATE pass: their immutable string buffers
    * disqualify HashAggregate, and a SortAggregate downstream of the
    * Expand would sort |rows|×|cols| — split off, they run as a
    * grouping-free streaming fold (5× measured on the lineitem
    * profile) and the two one-row results cross-join for free. The
    * per-column unpivot of the single row is driver-trivial. */
  def profile(
      df: DataFrame,
      numericCols: Seq[String],
      stringCols: Seq[String]): DataFrame = {
    require(numericCols.nonEmpty || stringCols.nonEmpty, "no columns")
    profileFused(df, numericCols, stringCols)
      .getOrElse(profileGeneral(df, numericCols, stringCols))
  }

  private def profileGeneral(
      df: DataFrame,
      numericCols: Seq[String],
      stringCols: Seq[String]): DataFrame = {
    val all = numericCols ++ stringCols
    // Shape (round 12): ONE full-width scan computes every hash-able
    // statistic (counts, null counts, numeric min/max) in a single
    // row; each column's EXACT distinct count runs as its OWN
    // two-phase distinct branch (partial dedup map-side, shuffle of
    // distinct values only); string min/max keep their separate tiny
    // aggregate (immutable agg buffers would drag the main aggregate
    // to SortAggregate). The one-row frames crossJoin (broadcast-
    // trivial) and unpivot. The previous one-scan form put N exact
    // countDistincts in a single aggregate, which Catalyst plans as
    // an Expand — one projected copy of every row PER column feeding
    // a giant multi-key distinct-agg: measured 14× DuckDB at sf1.0.
    // Here every branch is a parallel stage of one job, each scan is
    // column-pruned, and the only material shuffle is per-column
    // distinct values (BENCH_FULL.md q35 row: 8.6 s → ~0.8 s at sf1.0).
    val hashable = all.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        count(lit(1)).minus(count(col(c))).cast("long").as(s"__nulls_$c")) ++
      (if (numericCols.contains(c))
        Seq(min(col(c)).cast("double").as(s"__min_$c"),
          max(col(c)).cast("double").as(s"__max_$c"))
      else Seq.empty)
    }
    val stringy = stringCols.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val distincts = all.map { c =>
      df.select(col(c)).distinct().agg(count(col(c)).as(s"__dist_$c"))
    }
    val statRow = df.agg(hashable.head, hashable.tail: _*)
    val withStr =
      if (stringy.isEmpty) statRow
      else statRow.crossJoin(
        broadcast(df.agg(stringy.head, stringy.tail: _*)))
    val one = distincts.foldLeft(withStr)((acc, d) => acc.crossJoin(d))
    val rows = all.map { c =>
      val numeric = numericCols.contains(c)
      struct(
        lit(c).as("column_name"),
        col(s"__n_$c").as("n"),
        col(s"__nulls_$c").as("n_nulls"),
        col(s"__dist_$c").as("n_distinct"),
        (if (numeric) col(s"__min_$c") else lit(null).cast("double"))
          .as("min_num"),
        (if (numeric) col(s"__max_$c") else lit(null).cast("double"))
          .as("max_num"),
        (if (numeric) lit(null).cast("string") else col(s"__min_$c"))
          .as("min_str"),
        (if (numeric) lit(null).cast("string") else col(s"__max_$c"))
          .as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Per-partition profile shipped to the driver by the fused path:
    * one shared row count, then per-column non-null counts, numeric
    * min/max, string min/max, and packed distinct sets (null array =
    * that task overflowed its cap → caller falls back). */
  private case class PartProfile(
      rows: Long,
      cnt: Array[Long],
      minNum: Array[Double],
      maxNum: Array[Double],
      numKeys: Array[Array[Long]],
      minStr: Array[String],
      maxStr: Array[String],
      strKeys: Array[Array[String]])

  /** Fused single-scan profile (r13): when `df` is a bare columnar
    * parquet scan of the profiled columns, EVERYTHING — counts, null
    * counts, numeric and string min/max, and EXACT per-column
    * distinct counts — comes off one pass over the vectorized
    * ColumnarBatches: each task pre-distincts into primitive sets
    * ([[LongOpenSet]] on IEEE-normalized bits for numerics, a small
    * UTF8String set for strings) and ships packed keys; the driver
    * merges. One job, no shuffle, no Expand, no per-column distinct
    * branches (q35 at sf1.0: 1.0 s → ~0.35 s; DuckDB 0.09).
    *
    * Gated exactly like [[ExactDistinct]]: footer row count ≤ its
    * fast-path budget up front, per-task emit caps with overflow
    * sentinels post-hoc, unexpected plan shapes or column types →
    * None — the general multi-branch form below remains the 100 TB
    * route, where per-column distinct exchanges are the right
    * design. String comparisons use UTF8String binary order (what
    * Spark's min/max computes); -0.0 normalizes to 0.0 and NaN to
    * the canonical bits so bit-distinct equals value-distinct. */
  private def profileFused(
      df: DataFrame,
      numericCols: Seq[String],
      stringCols: Seq[String]): Option[DataFrame] = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
    val all = numericCols ++ stringCols
    val okTypes = all.forall { c =>
      df.schema.fieldNames.contains(c) && (df.schema(c).dataType match {
        case DoubleType | LongType | IntegerType =>
          numericCols.contains(c)
        case StringType => stringCols.contains(c)
        case _ => false
      })
    }
    if (!okTypes) return None
    val proj = df.select(all.map(col): _*)
    val scan = ExactDistinct.bareColumnarScan(proj) match {
      case Some(s) => s
      case None => return None
    }
    val outNames = scan.output.map(_.name)
    if (outNames.sorted != all.sorted) return None
    val spark = df.sparkSession
    val totalRows =
      try scan.relation.location.rootPaths.map(p =>
        ExactDistinct.parquetRowCount(spark, p.toString)).sum
      catch { case scala.util.control.NonFatal(_) => return None }
    if (totalRows > ExactDistinct.MaxFastPathRows) return None

    val nNum = numericCols.length
    val nStr = stringCols.length
    val numIdx = numericCols.map(outNames.indexOf).toArray
    val strIdx = stringCols.map(outNames.indexOf).toArray
    val numIsLong = numericCols.map(c =>
      df.schema(c).dataType != DoubleType).toArray
    val cap = ExactDistinct.MaxTaskKeysPerCol
    val parts = scan.executeColumnar().mapPartitions { it =>
      val cnt = new Array[Long](nNum + nStr)
      val mnN = new Array[Double](nNum)
      val mxN = new Array[Double](nNum)
      val mnL = new Array[Long](nNum)
      val mxL = new Array[Long](nNum)
      val seenN = new Array[Boolean](nNum)
      val numSets = Array.fill(nNum)(new LongOpenSet(1 << 12))
      val mnS = new Array[org.apache.spark.unsafe.types.UTF8String](nStr)
      val mxS = new Array[org.apache.spark.unsafe.types.UTF8String](nStr)
      val strSets = Array.fill(nStr)(
        new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String])
      var rows = 0L
      while (it.hasNext) {
        val b = it.next()
        val n = b.numRows()
        rows += n
        var i = 0
        while (i < nNum) {
          val v = b.column(numIdx(i))
          val s = numSets(i)
          val isLong = numIsLong(i)
          var r = 0
          while (r < n) {
            if (!v.isNullAt(r)) {
              cnt(i) += 1
              if (isLong) {
                // compare in LONG space (double rounds past 2^53);
                // the min/max → double cast happens once at the end,
                // same as the general path's min(col).cast(double)
                val k = v.getLong(r)
                if (!seenN(i)) { mnL(i) = k; mxL(i) = k; seenN(i) = true }
                else {
                  if (k < mnL(i)) mnL(i) = k
                  if (k > mxL(i)) mxL(i) = k
                }
                s.add(k)
              } else {
                // Double.compare ordering == Spark's double
                // aggregate ordering (NaN greatest, -0.0 < 0.0)
                val d = v.getDouble(r)
                if (!seenN(i)) { mnN(i) = d; mxN(i) = d; seenN(i) = true }
                else {
                  if (java.lang.Double.compare(d, mnN(i)) < 0) mnN(i) = d
                  if (java.lang.Double.compare(d, mxN(i)) > 0) mxN(i) = d
                }
                s.add(java.lang.Double.doubleToLongBits(d + 0.0))
              }
            }
            r += 1
          }
          i += 1
        }
        i = 0
        while (i < nStr) {
          val v = b.column(strIdx(i))
          val set = strSets(i)
          var r = 0
          while (r < n) {
            if (!v.isNullAt(r)) {
              cnt(nNum + i) += 1
              val u = v.getUTF8String(r)
              if (mnS(i) == null || u.compareTo(mnS(i)) < 0)
                mnS(i) = u.clone()
              if (mxS(i) == null || u.compareTo(mxS(i)) > 0)
                mxS(i) = u.clone()
              if (set.size() <= cap && !set.contains(u))
                set.add(u.clone())
            }
            r += 1
          }
          i += 1
        }
      }
      var ii = 0
      while (ii < nNum) {
        if (seenN(ii) && numIsLong(ii)) {
          mnN(ii) = mnL(ii).toDouble
          mxN(ii) = mxL(ii).toDouble
        }
        ii += 1
      }
      Iterator.single(PartProfile(
        rows, cnt,
        mnN, mxN,
        numSets.map(s => if (s.size > cap) null else s.toArray),
        mnS.map(u => if (u == null) null else u.toString),
        mxS.map(u => if (u == null) null else u.toString),
        strSets.map(s =>
          if (s.size() > cap) null
          else {
            val a = new Array[String](s.size())
            val itr = s.iterator(); var j = 0
            while (itr.hasNext) { a(j) = itr.next().toString; j += 1 }
            a
          })))
    }.collect()
    if (parts.exists(p =>
        p.numKeys.exists(_ == null) || p.strKeys.exists(_ == null)))
      return None

    val total = parts.map(_.rows).sum
    val outRows = all.zipWithIndex.map { case (c, ci) =>
      val isNum = ci < nNum
      val n = parts.map(_.cnt(ci)).sum
      val nulls = total - n
      if (isNum) {
        val mset = new LongOpenSet(1 << 16)
        parts.foreach { p =>
          val a = p.numKeys(ci); var j = 0
          while (j < a.length) { mset.add(a(j)); j += 1 }
        }
        // validity = the part saw a non-null value; merge with
        // Double.compare so NaN stays greatest (Spark ordering)
        val valid = parts.filter(_.cnt(ci) > 0)
        val mins = valid.map(_.minNum(ci))
        val maxs = valid.map(_.maxNum(ci))
        def lt(a: Double, b: Double) = java.lang.Double.compare(a, b) < 0
        org.apache.spark.sql.Row(c, n, nulls, mset.size,
          if (mins.isEmpty) null
          else Double.box(mins.reduce((a, b) => if (lt(a, b)) a else b)),
          if (maxs.isEmpty) null
          else Double.box(maxs.reduce((a, b) => if (lt(a, b)) b else a)),
          null, null)
      } else {
        val si = ci - nNum
        val mset = new java.util.HashSet[String]
        parts.foreach(p => p.strKeys(si).foreach(mset.add))
        val mins = parts.flatMap(p => Option(p.minStr(si)))
        val maxs = parts.flatMap(p => Option(p.maxStr(si)))
        // binary (UTF-8 byte) order, same as the executor-side and
        // Spark's own string min/max
        def u8(x: String) =
          org.apache.spark.unsafe.types.UTF8String.fromString(x)
        org.apache.spark.sql.Row(c, n, nulls, mset.size.toLong, null, null,
          if (mins.isEmpty) null else mins.minBy(u8).toString,
          if (maxs.isEmpty) null else maxs.maxBy(u8).toString)
      }
    }
    import org.apache.spark.sql.types.{StructField, StructType}
    val schema = StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("n_nulls", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("min_num", DoubleType),
      StructField("max_num", DoubleType),
      StructField("min_str", StringType),
      StructField("max_str", StringType)))
    Some(spark.createDataFrame(
      java.util.Arrays.asList(outRows: _*), schema))
  }

  /** Equi-width histogram in two aggregate passes: a one-row min/max
    * aggregate (broadcast — it is a single row) then a bucket-id
    * hash-agg with map-side partials. No sort, no collect; the only
    * shuffle is the nBuckets-row final combine. The top edge closes
    * the last bucket (max lands in bucket nBuckets-1, not nBuckets).
    *
    * Bucket arithmetic is plain IEEE double ops in a fixed shape
    * (`(v - mn) / w`, `w = (mx - mn) / nBuckets`) so an oracle
    * writing the SAME shape is bit-identical. Degenerate input
    * (mn == mx or a single row) folds into bucket 0. */
  def histogram(df: DataFrame, value: Column, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets=$nBuckets")
    val mm = df.agg(min(value).cast("double").as("__mn"),
      max(value).cast("double").as("__mx"))
    val w = (col("__mx") - col("__mn")) / nBuckets
    val v = value.cast("double")
    val bucket = when(col("__mx") === col("__mn"), 0L)
      .otherwise(least(floor((v - col("__mn")) / w), lit(nBuckets - 1L)))
      .cast("long")
    df.join(broadcast(mm))
      .filter(value.isNotNull)
      .select(bucket.as("bucket"), col("__mn"), col("__mx"))
      .groupBy("bucket", "__mn", "__mx")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (col("__mn") + col("bucket") * ((col("__mx") - col("__mn")) / nBuckets))
          .as("lo"),
        (col("__mn") + (col("bucket") + 1) *
          ((col("__mx") - col("__mn")) / nBuckets)).as("hi"),
        col("n"))
  }

  /** Combine check frames into the audit report, pass/fail flagged. */
  def audit(checks: Seq[DataFrame]): DataFrame =
    checks.reduce(_ unionAll _)
      .withColumn("status",
        when(col("n_violations") === 0, lit("pass")).otherwise(lit("fail")))
}
