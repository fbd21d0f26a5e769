package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters that
  * Spark 4 hides behind the classic/connect split. Lives in the
  * org.apache.spark.sql package solely to widen that access for graft's
  * custom Catalyst expressions (graft.functions); public Spark API
  * everywhere else.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A possibly-`.desc`/`.asc` sort column decomposed into its value column
    * and the descending? flag. Spark 4 models sort order as an internal
    * `ColumnNode` (not a catalyst SortOrder) until resolution, so the match
    * has to happen at the node layer — which is `private[sql]`, hence here.
    */
  def sortParts(c: Column): (Column, Boolean) = c.node match {
    case internal.SortOrder(child, dir, _, _) =>
      (Column(child), dir == internal.SortOrder.Descending)
    case _ => (c, false)
  }

  /** A clone of `s`: its own runtime conf (a copy of `s`'s), temp views
    * and streaming query manager over the same SparkContext and cache.
    * `newSession` would not copy the conf. The streaming query listeners
    * of `s` are attached to the clone too, so whoever observes the
    * streams of `s` also sees those run in the clone.
    */
  def cloneSession(s: SparkSession): SparkSession = {
    val c = s.asInstanceOf[classic.SparkSession].cloneSession()
    s.streams.listListeners().foreach(l => c.streams.addListener(l))
    c
  }

  /** Field-union of two schemas via Catalyst's (private[sql]) StructType
    * merge — throws on incompatible types; callers treat that as
    * "cannot merge" and fall back.
    */
  def mergeSchemas(a: types.StructType, b: types.StructType): types.StructType =
    a.merge(b)

  /** The logical plan behind a DataFrame — the table-valued-function
    * bridge: an `injectTableFunction` builder must return a LogicalPlan,
    * and graft's whole-operator surfaces (set-sim join, as-of join) build
    * DataFrames. Classic-mode only (like everything in this shim).
    */
  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical

  /** Flatten a filter Column into its recognizable
    * (attribute, op, literal) conjuncts, where op is one of
    * "<" "<=" ">" ">=" "=" with an external JVM value, or "in" with a
    * Seq of external values. Conjuncts that aren't a plain
    * attr-vs-literal(s) comparison yield nothing (callers must treat
    * them as unprunable, never as false). Lives here because the
    * node-layer matchers are `private[sql]`.
    */
  private def flipOp(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case other => other
  }
  private def nodeAttr(n: internal.ColumnNode): Option[String] = n match {
    case internal.UnresolvedAttribute(parts, _, _, _) => Some(parts.mkString("."))
    case _ => None
  }
  private def nodeLit(n: internal.ColumnNode): Option[Any] = n match {
    case internal.Literal(v, _, _) => Some(v)
    case _ => None
  }
  /** A single recognizable attr-vs-literal comparison, else None. */
  private def leafBound(n: internal.ColumnNode): Option[(String, String, Any)] = n match {
    case internal.UnresolvedFunction(op @ ("<" | "<=" | ">" | ">=" | "="),
        scala.collection.Seq(x, y), _, _, _, _) =>
      (nodeAttr(x), nodeLit(y), nodeAttr(y), nodeLit(x)) match {
        case (Some(a), Some(v), _, _) => Some((a, op, v))
        case (_, _, Some(a), Some(v)) => Some((a, flipOp(op), v))
        case _ => None
      }
    case internal.UnresolvedFunction("in", args, _, _, _, _)
        if args.nonEmpty && nodeAttr(args.head).isDefined =>
      val vs = args.tail.map(nodeLit)
      if (vs.forall(_.isDefined)) Some((nodeAttr(args.head).get, "in", vs.flatten))
      else None
    case _ => None
  }

  /** Disjunctive normal form of a filter over recognizable comparisons:
    * Seq of disjuncts, each a conjunct list — the predicate implies
    * "some disjunct holds". Soundness asymmetry, load-bearing for data
    * skipping: an unrecognizable CONJUNCT may be dropped (weakens the
    * predicate — more files survive), but an unrecognizable DISJUNCT
    * poisons its whole OR (dropping it would strengthen the predicate and
    * prune files it might match) — the OR collapses to "unknown". Returns
    * Nil when nothing prunable remains; cross-product growth beyond 64
    * disjuncts also degrades to Nil rather than exploding the probe.
    *
    * Parsed-SQL Columns (`functions.expr("id BETWEEN 10 AND 29")`, the
    * shape the docstore_update/docstore_delete TVFs build) carry an
    * `internal.SqlExpression` node instead of the function tree — those
    * are parsed with the active session's parser and walked on the
    * CATALYST side, so SQL-driven mutations prune exactly like
    * Column-API ones.
    */
  def predicateDnf(c: Column): Seq[Seq[(String, String, Any)]] = {
    type Dnf = Seq[Seq[(String, String, Any)]]
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def catAttr(e: ce.Expression): Option[String] = e match {
      case a: catalyst.analysis.UnresolvedAttribute => Some(a.name)
      case _ => None
    }
    def catLit(e: ce.Expression): Option[Any] = e match {
      case ce.Literal(v, t) =>
        Option(catalyst.CatalystTypeConverters.convertToScala(v, t))
      case _ => None
    }
    def catLeaf(e: ce.Expression): Option[(String, String, Any)] = {
      def bin(op: String, l: ce.Expression, r: ce.Expression) =
        (catAttr(l), catLit(r), catAttr(r), catLit(l)) match {
          case (Some(a), Some(v), _, _) => Some((a, op, v))
          case (_, _, Some(a), Some(v)) => Some((a, flipOp(op), v))
          case _ => None
        }
      e match {
        case ce.EqualTo(l, r) => bin("=", l, r)
        case ce.LessThan(l, r) => bin("<", l, r)
        case ce.LessThanOrEqual(l, r) => bin("<=", l, r)
        case ce.GreaterThan(l, r) => bin(">", l, r)
        case ce.GreaterThanOrEqual(l, r) => bin(">=", l, r)
        case ce.In(v, list) if catAttr(v).isDefined =>
          val vs = list.map(catLit)
          if (vs.forall(_.isDefined)) Some((catAttr(v).get, "in", vs.flatten))
          else None
        case _ => None
      }
    }
    def catGo(e: ce.Expression): Option[Dnf] = e match {
      case ce.And(l, r) =>
        (catGo(l), catGo(r)) match {
          case (None, x) => x
          case (x, None) => x
          case (Some(a), Some(b)) =>
            val cross = for { x <- a; y <- b } yield x ++ y
            if (cross.size > 64) None else Some(cross)
        }
      case ce.Or(l, r) =>
        (catGo(l), catGo(r)) match {
          case (Some(a), Some(b)) if a.size + b.size <= 64 => Some(a ++ b)
          case _ => None
        }
      // the parser keeps BETWEEN as an unresolved function (it desugars
      // during analysis, which never runs here) — expand it ourselves
      case f: catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("between") && f.arguments.length == 3 =>
        (catAttr(f.arguments(0)), catLit(f.arguments(1)), catLit(f.arguments(2))) match {
          case (Some(a), Some(lo), Some(hi)) =>
            Some(Seq(Seq((a, ">=", lo), (a, "<=", hi))))
          case _ => None
        }
      case leaf => catLeaf(leaf).map(b => Seq(Seq(b)))
    }
    def parseSql(sql: String): Option[Dnf] =
      scala.util.Try(SparkSession.active.sessionState.sqlParser
        .parseExpression(sql)).toOption.flatMap(catGo)
    def go(n: internal.ColumnNode): Option[Dnf] = n match {
      case internal.UnresolvedFunction("and", scala.collection.Seq(l, r), _, _, _, _) =>
        (go(l), go(r)) match {
          case (None, x) => x
          case (x, None) => x
          case (Some(a), Some(b)) =>
            val cross = for { x <- a; y <- b } yield x ++ y
            if (cross.size > 64) None else Some(cross)
        }
      case internal.UnresolvedFunction("or", scala.collection.Seq(l, r), _, _, _, _) =>
        (go(l), go(r)) match {
          case (Some(a), Some(b)) if a.size + b.size <= 64 => Some(a ++ b)
          case _ => None
        }
      case internal.SqlExpression(sql, _) => parseSql(sql)
      case leaf => leafBound(leaf).map(b => Seq(Seq(b)))
    }
    go(c.node).getOrElse(Nil)
  }
}
