package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint verification — the Deequ /
  * Great-Expectations layer (Schelter et al., VLDB 2018: "Automating
  * large-scale data quality verification") on top of
  * [[Etl.profileColumns]]' statistics: a pipeline DECLARES the
  * invariants a load must satisfy (keys unique, FKs resolve, values
  * in range) and publishes a pass/fail verdict table with exact
  * violation counts, instead of every consumer re-discovering breakage
  * downstream.
  *
  * Reference scope: the reference trusts its loader (tables.sql
  * declares PKs; products.py assumes clean rows) — this operator is
  * that trust made checkable at 100 TB.
  *
  * Every verdict is an EXACT integer count, so the whole report has a
  * full DuckDB oracle. Spark shape: all scalar checks against one
  * table fold into ONE aggregation pass over one scan (conditional
  * sums unpivoted with `stack`, the profileColumns posture);
  * [[Check.Unique]] adds a distinct aggregate and [[Check.ForeignKey]]
  * one anti-join against the (usually broadcastable) parent key set —
  * no check ever shuffles fact rows beyond its own aggregate. */
object Expectations {

  sealed trait Check
  object Check {
    /** Identifier validation at CONSTRUCTION: column / parent-table
      * names are interpolated into selectExpr `stack` strings here
      * and into generated oracle SQL in the entry layer, so a quoted,
      * spaced, or otherwise non-identifier name would parse-error (or
      * inject) at verify time, far from the declaration that caused
      * it. Fail at the declaration instead. */
    private def requireIdent(what: String, name: String): Unit =
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"$what must be a plain SQL identifier, got '$name'")

    /** Column must hold no NULLs; n_checked = table rows. */
    final case class NotNull(column: String) extends Check {
      requireIdent("NotNull.column", column)
    }

    /** Non-null values must fall in [lo, hi] (inclusive); NULL rows
      * are [[NotNull]]'s business and are not checked here. */
    final case class InRange(column: String, lo: Double, hi: Double) extends Check {
      requireIdent("InRange.column", column)
    }

    /** Non-null values must be one of `values` (values may be any
      * strings — interpolation sites escape them). */
    final case class AcceptedValues(column: String, values: Seq[String]) extends Check {
      requireIdent("AcceptedValues.column", column)
      require(values.nonEmpty, "AcceptedValues needs at least one value")
    }

    /** The key columns must identify rows uniquely; rows with a NULL
      * key component are not checked. Violations = rows beyond the
      * first per duplicated key. */
    final case class Unique(columns: Seq[String]) extends Check {
      require(columns.nonEmpty, "Unique needs at least one column")
      columns.foreach(requireIdent("Unique.column", _))
    }

    /** Every non-null child value must exist in the parent key set
      * (referential integrity). The parent is referenced BY NAME so a
      * check battery is pure data (one declaration drives both the
      * Spark run and an engine-twin SQL generation); [[verify]]
      * resolves the frame from its table map. */
    final case class ForeignKey(
        column: String, parentName: String, parentColumn: String) extends Check {
      requireIdent("ForeignKey.column", column)
      requireIdent("ForeignKey.parentName", parentName)
      requireIdent("ForeignKey.parentColumn", parentColumn)
    }
  }
  import Check._

  /** Human-readable constraint label (the verdict's identity — also
    * what the DuckDB oracle reproduces, so keep it deterministic). */
  def label(c: Check): String = c match {
    case NotNull(col0) => s"not_null($col0)"
    case InRange(col0, lo, hi) => s"in_range($col0,$lo,$hi)"
    case AcceptedValues(col0, vs) => s"accepted_values($col0,${vs.mkString("|")})"
    case Unique(cols) => s"unique(${cols.mkString(",")})"
    case ForeignKey(col0, pn, pc) => s"foreign_key($col0->$pn.$pc)"
  }

  /** Escape a string for interpolation inside a single-quoted SQL
    * literal (labels carry free-form AcceptedValues strings; table
    * names in a caller's map are unconstrained). Both Spark SQL and
    * DuckDB double embedded single quotes. */
  def sqlLit(s: String): String = s.replace("'", "''")

  /** SPARK-side single-quoted-literal escape: unlike DuckDB, Spark's
    * parser (escapedStringLiterals=false, the default) interprets
    * backslash escape sequences inside string literals, so a
    * backslash-bearing AcceptedValues value or table name interpolated
    * into the `stack` strings would parse differently on the two
    * engines (or fail to parse). Backslashes double FIRST, then quotes
    * — [[sqlLit]] stays the DuckDB-side escape. */
  def sparkLit(s: String): String =
    s.replace("\\", "\\\\").replace("'", "''")

  /** Verify a battery of checks, each against a named table from
    * `tables` (ForeignKey parents resolve from the same map). Output:
    * one row per check in declaration order —
    * (check_seq, table_name, constraint, n_checked, n_violations,
    * passed) — ordered by check_seq. */
  def verify(
      tables: Map[String, DataFrame], checks: Seq[(String, Check)]): DataFrame = {
    require(checks.nonEmpty, "verify needs at least one check")
    checks.foreach { case (t, c) =>
      require(tables.contains(t), s"verify: unknown table '$t'")
      c match {
        case ForeignKey(_, pn, _) =>
          require(tables.contains(pn), s"verify: unknown FK parent '$pn'")
        case _ => ()
      }
    }
    // aggregate-expressible checks (everything but FK) fold into ONE
    // aggregation pass per table: (nc_i, nv_i) column pairs unpivoted
    // to verdict rows with `stack` — the profileColumns posture; a
    // per-check .agg would rescan the fact table once per constraint
    def ncNv(c: Check): (Column, Column) = c match {
      case NotNull(col0) =>
        (count(lit(1)), count(lit(1)) - count(col(col0)))
      case InRange(col0, lo, hi) =>
        (count(col(col0)),
          sum(when(col(col0).isNotNull &&
            (col(col0) < lo || col(col0) > hi), 1L).otherwise(0L)))
      case AcceptedValues(col0, vs) =>
        (count(col(col0)),
          sum(when(col(col0).isNotNull && !col(col0).isin(vs: _*), 1L)
            .otherwise(0L)))
      case Unique(cols) =>
        // count(DISTINCT a, b, ...) skips any-NULL rows in BOTH Spark
        // and DuckDB — consistent with the nn-gated n_checked
        val nn = cols.map(col(_).isNotNull).reduce(_ && _)
        (sum(when(nn, 1L).otherwise(0L)),
          sum(when(nn, 1L).otherwise(0L)) -
            countDistinct(col(cols.head), cols.tail.map(col): _*))
      case _: ForeignKey =>
        throw new IllegalStateException("ForeignKey is not aggregate-expressible")
    }
    val indexed = checks.zipWithIndex
    val scalarFrames = indexed
      .filter { case ((_, c), _) => !c.isInstanceOf[ForeignKey] }
      .groupBy { case ((t, _), _) => t }
      .toSeq.sortBy(_._2.head._2) // deterministic frame order
      .map { case (tname, items) =>
        val aggCols = items.flatMap { case ((_, c), i) =>
          val (nc, nv) = ncNv(c)
          // both sides coalesce: sum() over an empty table is NULL
          Seq(coalesce(nc.cast("long"), lit(0L)).as(s"nc_$i"),
            coalesce(nv.cast("long"), lit(0L)).as(s"nv_$i"))
        }
        val stackArgs = items.map { case ((t, c), i) =>
          s"${i + 1}, '${sparkLit(t)}', '${sparkLit(label(c))}', nc_$i, nv_$i" }.mkString(", ")
        tables(tname).agg(aggCols.head, aggCols.tail: _*)
          .selectExpr(s"stack(${items.size}, $stackArgs) AS " +
            "(check_seq, table_name, `constraint`, n_checked, n_violations)")
      }
    val fkFrames = indexed.collect { case ((tname, fk: ForeignKey), i) =>
      // orphan count by anti-join against the distinct parent keys
      // (broadcast when small; AQE handles a genuinely large side)
      val child = tables(tname).select(col(fk.column).as("__fk"))
        .filter(col("__fk").isNotNull)
      val orphans = child.join(
        tables(fk.parentName).select(col(fk.parentColumn).as("__fk")).distinct(),
        Seq("__fk"), "left_anti")
      child.agg(count(lit(1)).as("n_checked"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_violations")))
        .select(lit(i + 1).as("check_seq"), lit(tname).as("table_name"),
          lit(label(fk)).as("constraint"),
          col("n_checked"), col("n_violations"))
    }
    (scalarFrames ++ fkFrames).reduce(_ unionByName _)
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("check_seq")
  }

  /** MERGEABLE verdict partials — the incremental face of [[verify]]:
    * a nightly load verifies ONLY its delta, folds the delta's
    * partials into the persisted base partials, and serves the
    * whole-table verdicts from the merged state with NO base rescan
    * (the quantile/CMS-partial posture applied to data quality).
    * Every check kind reduces to ADDITIVE counters:
    *
    *  - scalar checks (not-null / range / accepted): two counter rows
    *    (checked, violation) — plain sums.
    *  - Unique: per-key counts (key = a separator-joined digest of
    *    the key columns); violations = Σcnt − #keys, so a duplicate
    *    SPLIT ACROSS loads (cnt 1+1) surfaces only after the merge —
    *    exactly what per-load verification misses.
    *  - ForeignKey: per-value child counts PLUS the parent key set;
    *    a parent row arriving in a later load RESOLVES an earlier
    *    orphan — serving re-derives orphans from the merged state, so
    *    the verdict is always the whole-table truth.
    *
    * Output schema: (check_seq, kind ∈ checked|violation|key|fkval|
    * parentkey, k, cnt). [[mergePartials]] folds any number of these;
    * [[serveVerdicts]] reproduces [[verify]]'s exact verdict table
    * (spec: partials(base) ⊕ partials(delta) served == verify(full)
    * bit-for-bit, including the cross-load duplicate and the
    * late-parent resolution). */
  def partials(
      tables: Map[String, DataFrame], checks: Seq[(String, Check)]): DataFrame = {
    require(checks.nonEmpty, "partials needs at least one check")
    val indexed = checks.zipWithIndex
    // scalar counters fold into ONE aggregation pass per table (the
    // verify() posture - a per-check .agg would rescan the load once
    // per constraint), unpivoted to (checked, violation) counter rows
    val scalarFrames = indexed
      .filter { case ((_, c), _) =>
        !c.isInstanceOf[ForeignKey] && !c.isInstanceOf[Unique] }
      .groupBy { case ((t, _), _) => t }
      .toSeq.sortBy(_._2.head._2)
      .map { case (tname, items) =>
        val aggCols = items.flatMap { case ((_, c), i) =>
          val (nc, nv): (Column, Column) = c match {
            case NotNull(col0) =>
              (count(lit(1)), count(lit(1)) - count(col(col0)))
            case InRange(col0, lo, hi) =>
              (count(col(col0)),
                sum(when(col(col0).isNotNull &&
                  (col(col0) < lo || col(col0) > hi), 1L).otherwise(0L)))
            case AcceptedValues(col0, vs) =>
              (count(col(col0)),
                sum(when(col(col0).isNotNull && !col(col0).isin(vs: _*), 1L)
                  .otherwise(0L)))
            case other => throw new IllegalStateException(
              s"${label(other)} is not a scalar counter check")
          }
          Seq(coalesce(nc.cast("long"), lit(0L)).as(s"nc_$i"),
            coalesce(nv.cast("long"), lit(0L)).as(s"nv_$i"))
        }
        val stackArgs = items.flatMap { case (_, i) =>
          Seq(s"${i + 1}, 'checked', CAST(NULL AS STRING), nc_$i",
            s"${i + 1}, 'violation', CAST(NULL AS STRING), nv_$i")
        }.mkString(", ")
        tables(tname).agg(aggCols.head, aggCols.tail: _*)
          .selectExpr(s"stack(${2 * items.size}, $stackArgs) AS " +
            "(check_seq, kind, k, cnt)")
      }
    val keyedFrames = indexed.collect {
      case ((tname, Unique(cols)), i) =>
        val nn = cols.map(col(_).isNotNull).reduce(_ && _)
        tables(tname).filter(nn)
          // unit-separator join: a bare concat would alias
          // ("ab","c") with ("a","bc")
          .select(concat_ws("\u001f",
            cols.map(col(_).cast("string")): _*).as("k"))
          .groupBy("k").agg(count(lit(1)).as("cnt"))
          .select(lit(i + 1).as("check_seq"), lit("key").as("kind"),
            col("k"), col("cnt"))
      case ((tname, ForeignKey(col0, pn, pcol)), i) =>
        val child = tables(tname).filter(col(col0).isNotNull)
          .select(col(col0).cast("string").as("k"))
          .groupBy("k").agg(count(lit(1)).as("cnt"))
          .select(lit(i + 1).as("check_seq"), lit("fkval").as("kind"),
            col("k"), col("cnt"))
        val parent = tables(pn).filter(col(pcol).isNotNull)
          .select(col(pcol).cast("string").as("k")).distinct()
          .select(lit(i + 1).as("check_seq"), lit("parentkey").as("kind"),
            col("k"), lit(1L).as("cnt"))
        child.unionByName(parent)
    }
    (scalarFrames ++ keyedFrames).reduce(_ unionByName _)
  }

  /** Fold partial frames: counters sum; the parent key set stays a
    * set (cnt pinned to 1 so re-merging is idempotent). */
  def mergePartials(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergePartials needs at least one frame")
    parts.reduce(_ unionByName _)
      .groupBy("check_seq", "kind", "k")
      .agg(sum("cnt").as("cnt"))
      .withColumn("cnt",
        when(col("kind") === "parentkey", lit(1L)).otherwise(col("cnt")))
  }

  /** Serve [[verify]]'s exact verdict table from merged partials —
    * no fact rescan AND no per-check jobs: scalar counters, key
    * stats, and FK totals are three aggregations over the merged
    * state, orphans ONE anti-join keyed by (check_seq, k) covering
    * every FK check at once; the per-check metadata (table, label)
    * joins in as a bounded literal frame. */
  def serveVerdicts(
      merged: DataFrame, checks: Seq[(String, Check)]): DataFrame = {
    require(checks.nonEmpty, "serveVerdicts needs at least one check")
    val spark = merged.sparkSession
    import spark.implicits._
    val meta = checks.zipWithIndex.map { case ((t, c), i) =>
      (i + 1, t, label(c),
        c match {
          case _: Unique => "key"
          case _: ForeignKey => "fk"
          case _ => "scalar"
        })
    }.toDF("check_seq", "table_name", "constraint", "ckind")
    val m = merged.localCheckpoint()
    val scalars = m.filter(col("kind").isin("checked", "violation"))
      .groupBy("check_seq").agg(
        coalesce(sum(when(col("kind") === "checked", col("cnt"))), lit(0L))
          .as("s_nc"),
        coalesce(sum(when(col("kind") === "violation", col("cnt"))), lit(0L))
          .as("s_nv"))
    val keys = m.filter(col("kind") === "key")
      .groupBy("check_seq").agg(
        sum("cnt").as("k_nc"),
        (sum("cnt") - count(lit(1))).as("k_nv"))
    val fkv = m.filter(col("kind") === "fkval")
    val fkTot = fkv.groupBy("check_seq").agg(sum("cnt").as("f_nc"))
    val orphans = fkv
      .join(m.filter(col("kind") === "parentkey").select("check_seq", "k"),
        Seq("check_seq", "k"), "left_anti")
      .groupBy("check_seq").agg(sum("cnt").as("f_nv"))
    meta
      .join(scalars, Seq("check_seq"), "left")
      .join(keys, Seq("check_seq"), "left")
      .join(fkTot, Seq("check_seq"), "left")
      .join(orphans, Seq("check_seq"), "left")
      .select(col("check_seq"), col("table_name"), col("constraint"),
        when(col("ckind") === "scalar", coalesce(col("s_nc"), lit(0L)))
          .when(col("ckind") === "key", coalesce(col("k_nc"), lit(0L)))
          .otherwise(coalesce(col("f_nc"), lit(0L))).as("n_checked"),
        when(col("ckind") === "scalar", coalesce(col("s_nv"), lit(0L)))
          .when(col("ckind") === "key", coalesce(col("k_nv"), lit(0L)))
          .otherwise(coalesce(col("f_nv"), lit(0L))).as("n_violations"))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("check_seq")
  }

  /** [[serveVerdicts]] specialized for the PERSISTED-artifact serving
    * split, with the scans PRUNABLE: the generic path merges
    * artifact ∪ delta into one checkpointed frame, which forces a
    * full read of the artifact regardless of what each verdict branch
    * needs — at scale the artifact is dominated by per-key uniqueness
    * rows the SCALAR branch never reads. Here each branch applies its
    * `kind` filter to BOTH inputs BEFORE any union or aggregation, so
    * an artifact written `partitionBy("kind")` (see the entry layer)
    * serves the scalar counters without touching the key partitions
    * at all — the filter reaches the parquet scan as a partition
    * filter (plan-asserted in spec). Results are BIT-EQUAL to
    * serveVerdicts(mergePartials(artifact, delta)) — every branch's
    * aggregate is associative over the pre-merge rows (scalar sums;
    * key counts distinct over the union; parentkey is a set via
    * distinct) — which the spec asserts and the driver's full-battery
    * oracle proves independently. */
  def serveVerdictsSplit(
      artifact: DataFrame, delta: DataFrame,
      checks: Seq[(String, Check)]): DataFrame = {
    require(checks.nonEmpty, "serveVerdictsSplit needs at least one check")
    val spark = artifact.sparkSession
    import spark.implicits._
    val meta = checks.zipWithIndex.map { case ((t, c), i) =>
      (i + 1, t, label(c),
        c match {
          case _: Unique => "key"
          case _: ForeignKey => "fk"
          case _ => "scalar"
        })
    }.toDF("check_seq", "table_name", "constraint", "ckind")
    // the DELTA side materializes once: it is a freshly-computed
    // partials subplan (delta-table scans + aggregations) that four
    // branches would otherwise re-execute in full; the ARTIFACT side
    // stays lazy so each branch's kind filter reaches its parquet
    // scan as a partition filter (checkpointing it would read every
    // partition and erase the pruning this split exists for)
    val dp = delta.select("check_seq", "kind", "k", "cnt").localCheckpoint()
    def kinds(ks: String*): DataFrame = {
      val cond = col("kind").isin(ks.map(k => k: Any): _*)
      artifact.filter(cond).select("check_seq", "kind", "k", "cnt")
        .unionByName(dp.filter(cond))
    }
    val scalars = kinds("checked", "violation")
      .groupBy("check_seq").agg(
        coalesce(sum(when(col("kind") === "checked", col("cnt"))), lit(0L))
          .as("s_nc"),
        coalesce(sum(when(col("kind") === "violation", col("cnt"))), lit(0L))
          .as("s_nv"))
    // two-level: per-key fold first (partial-combinable; one plain
    // shuffle of the key rows), then the per-check stats — a
    // countDistinct here would EXPAND-double the key rows (at scale
    // the uniqueness partials ARE the artifact's mass) before the
    // same shuffle
    val keys = kinds("key")
      .groupBy("check_seq", "k").agg(sum("cnt").as("cnt"))
      .groupBy("check_seq").agg(
        sum("cnt").as("k_nc"),
        (sum("cnt") - count(lit(1))).as("k_nv"))
    val fkv = kinds("fkval")
    val fkTot = fkv.groupBy("check_seq").agg(sum("cnt").as("f_nc"))
    val orphans = fkv
      .join(kinds("parentkey").select("check_seq", "k").distinct(),
        Seq("check_seq", "k"), "left_anti")
      .groupBy("check_seq").agg(sum("cnt").as("f_nv"))
    meta
      .join(scalars, Seq("check_seq"), "left")
      .join(keys, Seq("check_seq"), "left")
      .join(fkTot, Seq("check_seq"), "left")
      .join(orphans, Seq("check_seq"), "left")
      .select(col("check_seq"), col("table_name"), col("constraint"),
        when(col("ckind") === "scalar", coalesce(col("s_nc"), lit(0L)))
          .when(col("ckind") === "key", coalesce(col("k_nc"), lit(0L)))
          .otherwise(coalesce(col("f_nc"), lit(0L))).as("n_checked"),
        when(col("ckind") === "scalar", coalesce(col("s_nv"), lit(0L)))
          .when(col("ckind") === "key", coalesce(col("k_nv"), lit(0L)))
          .otherwise(coalesce(col("f_nv"), lit(0L))).as("n_violations"))
      .withColumn("passed", col("n_violations") === 0L)
      .orderBy("check_seq")
  }

  /** ROW-LEVEL audit for the per-row-decidable check subset: each
    * input row reports the labels of the checks it violates — the
    * form an INGEST GATE wants (which arriving rows are bad and why),
    * where [[verify]] gives the per-load verdict totals. NotNull /
    * InRange / AcceptedValues are pure projections and [[Check
    * .ForeignKey]] becomes a left join against the (static) parent
    * key set, so the WHOLE frame is legal unchanged on a stream in
    * append mode (stateless + stream-static join — no watermark, no
    * state); [[Check.Unique]] is corpus-level and rejected here.
    *
    * Output: idCols*, violated (';'-joined labels in declaration
    * order, '' when clean), n_violations, passed — ordered by idCols
    * then violated (id columns need not be unique). */
  def rowAudit(
      df: DataFrame, tables: Map[String, DataFrame],
      idCols: Seq[String], checks: Seq[Check],
      ordered: Boolean = true): DataFrame = {
    require(idCols.nonEmpty && checks.nonEmpty,
      "rowAudit needs id columns and at least one check")
    checks.foreach {
      case u: Unique => throw new IllegalArgumentException(
        s"rowAudit: ${label(u)} is corpus-level — use verify()")
      case ForeignKey(_, pn, _) =>
        require(tables.contains(pn), s"rowAudit: unknown FK parent '$pn'")
      case _ => ()
    }
    // one left join per FK check adds a presence flag column; no
    // forced broadcast hint — a parent dimension can be arbitrarily
    // large at scale (the 100× probe's part table already overruns a
    // pinned broadcast), and the auto threshold / AQE still picks a
    // broadcast for genuinely small parents (plan-locked)
    val fks = checks.zipWithIndex.collect { case (fk: ForeignKey, i) => (fk, i) }
    val joined = fks.foldLeft(df) { case (acc, (fk, i)) =>
      val parent = tables(fk.parentName)
        .select(col(fk.parentColumn).as(fk.column)).distinct()
        .withColumn(s"__fk_ok_$i", lit(true))
      acc.join(parent, Seq(fk.column), "left")
    }
    val labelCols = checks.zipWithIndex.map { case (c, i) =>
      val violated: Column = c match {
        case NotNull(col0) => col(col0).isNull
        case InRange(col0, lo, hi) =>
          col(col0).isNotNull && (col(col0) < lo || col(col0) > hi)
        case AcceptedValues(col0, vs) =>
          col(col0).isNotNull && !col(col0).isin(vs: _*)
        case ForeignKey(col0, _, _) =>
          col(col0).isNotNull && col(s"__fk_ok_$i").isNull
        case _: Unique => lit(false) // unreachable (rejected above)
      }
      when(violated, lit(label(c)))
    }
    val base = joined.select(idCols.map(col) :+
        array_join(array_compact(array(labelCols: _*)), ";").as("violated"): _*)
      .withColumn("n_violations",
        when(col("violated") === "", lit(0)).otherwise(
          size(split(col("violated"), ";", -1))).cast("integer"))
      .withColumn("passed", col("violated") === "")
    // a global sort is illegal in a streaming plan (append mode) —
    // the streaming gate orders its served verdicts instead
    if (ordered) base.orderBy(idCols.map(col) :+ col("violated"): _*) else base
  }
}
