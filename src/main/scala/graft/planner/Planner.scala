package graft.planner

import graft.analyzer._
import graft.parser.Ast._
import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.collection.mutable

/** Table visible to the planner: a DataFrame plus the dialect-level
  * column types the analyzer enforces. */
final case class CatalogTable(df: DataFrame, fields: Seq[(String, MType)])

/** A typed column under construction. */
final case class Typed(col: Column, tpe: MType)

/** Analyzer + planner for the mutable dialect: walks the AST, enforces
  * mutable's stricter-than-Spark typing rules (MTypes), and emits a
  * Catalyst plan through the public DataFrame/Column API — Catalyst
  * then does predicate pushdown, join selection, reordering etc. (ref
  * lifecycle: /root/reference/src/parse/Sema.cpp stage machine +
  * src/IR/QueryGraph.cpp graph build; we fuse both stages since
  * Catalyst replaces the reference's plan enumeration).
  *
  * Implicit comma-joins lower to crossJoin + WHERE filter; Catalyst's
  * PushPredicateThroughJoin/ReorderJoin recover proper equi-joins from
  * exactly this shape — same treatment Spark gives its own SQL
  * `FROM a, b WHERE a.x = b.y`.
  *
  * Deterministic aggregation: SUM/AVG over DOUBLE columns go through
  * `graft.operators.Exact.dsum`, an exact scaled-integer sum divided
  * back to double. Plain double sums would make results depend on
  * partitioning order — unacceptable for an engine whose results must
  * reproduce across cluster sizes at 100 TB.
  *
  * CHECK constraints compile here too (`check`), with the rules every
  * WHERE goes through, so a constraint means what the same expression
  * means in a query.
  */
final class Planner(spark: SparkSession, lookup: String => Option[CatalogTable],
    refParity: Boolean = false) {

  private val AggNames = Set("COUNT", "SUM", "MIN", "MAX", "AVG")

  /** Deferred diagnostics: the reference's Sema recovers and keeps
    * checking, so one statement can carry several errors (corpus
    * num_err counts pin this). Accumulating paths add here and
    * continue; `plan` throws them all once the SELECT list is checked. */
  private val diags = mutable.Buffer.empty[Diag]

  /** Strip the planner's internal `__dupN` uniquification so duplicate
    * nested-query output names compare under their written name. */
  private def baseName(n: String): String = n.replaceAll("__dup\\d+$", "")

  // ------------------------------------------------------------- scopes

  private final case class Source(alias: String, fields: Seq[(String, MType)])
  private final class Scope(val sources: Seq[Source]) {
    def resolve(id: Id): (String, MType) = resolve(id.table, id.name, id)
    /** Resolve an identifier → (qualified column name, type). A
      * duplicate-named attribute of a nested-query source errors at
      * lookup like the reference ("Source X has multiple attributes a",
      * ref Sema.cpp:245 — NOT at source build: unreferenced duplicates
      * are legal). */
    def resolve(table: Option[String], name: String, anchor: Id = null)
        : (String, MType) = {
      def diag(msg: String) = new SemaError(Seq(
        if (anchor != null) Diag(anchor.attrLine, anchor.attrCol, msg)
        else Diag(0, 0, msg)))
      table match {
        case Some(t) =>
          val src = sources.find(_.alias.equalsIgnoreCase(t))
            .getOrElse(throw diag(s"unknown table alias '$t'"))
          val hits = src.fields.filter(f => baseName(f._1).equalsIgnoreCase(name))
          hits match {
            case Seq(one) => (s"${src.alias}.${one._1}", one._2)
            case Seq() => throw diag(s"no column '$name' in '$t'")
            case _ => throw diag(
              s"Source ${src.alias} has multiple attributes $name.")
          }
        case None =>
          val hits = for {
            s <- sources; f <- s.fields if baseName(f._1).equalsIgnoreCase(name)
          } yield (s"${s.alias}.${f._1}", f._2)
          hits match {
            case Seq(one) => one
            case Seq() => throw diag(s"unknown identifier '$name'")
            case _ => throw diag(s"ambiguous identifier '$name'")
          }
      }
    }
  }

  // ------------------------------------------------------------ planning

  /** Compile a CHECK constraint on attribute `attr` of `table` to a
    * Column over the table's rows aliased by its name (ref
    * Sema.cpp:1548: the table's own attributes are the only scope). It
    * is typed like a WHERE condition, must be boolean and may hold no
    * subquery. */
  def check(e: Expr, table: String, fields: Seq[(String, MType)], attr: String): Column = {
    if (exists(e)(_.isInstanceOf[QueryExpr]))
      throw new SemaError(s"CHECK constraint on '$attr' contains a subquery")
    val t = resolveScalar(e, new Scope(Seq(Source(table, fields))), allowAgg = false)
    if (t.tpe != MBool && t.tpe != MNull)
      throw new SemaError(s"CHECK constraint on '$attr' is not boolean")
    t.col
  }

  def plan(stmt0: SelectStmt): DataFrame = {
    // FROM: alias each source, cross-join; WHERE recovers the joins.
    val sources: Seq[(Source, DataFrame)] = stmt0.from.map {
      case FromTable(name, alias) =>
        val ct = lookup(name).getOrElse(
          throw new SemaError(s"unknown table '$name'"))
        val a = alias.getOrElse(name)
        (Source(a, ct.fields), ct.df.alias(a))
      case fq: FromQuery =>
        val df = plan(fq.q)
        val fields = df.schema.fields.toSeq.map(f =>
          f.name -> MTypes.fromSpark(f.dataType))
        // duplicate output names stay legal at source build (the plan
        // uniquified them as `name__dupN`); referencing one — by
        // designator or star expansion — errors at lookup like the
        // reference (Sema.cpp:245)
        (Source(fq.aliasName, fields), df.alias(fq.aliasName))
    }
    // ref Sema: two sources may not share an alias in one FROM
    sources.map(_._1.alias.toLowerCase).groupBy(identity).foreach {
      case (a, hits) if hits.size > 1 =>
        throw new SemaError(s"duplicate table name or alias '$a' in FROM")
      case _ => ()
    }
    var scope = new Scope(sources.map(_._1))
    var fromDf: DataFrame =
      if (sources.isEmpty) spark.range(1).toDF("__dummy")
      else sources.map(_._2).reduceLeft(_ crossJoin _)

    // Decorrelate correlated scalar subqueries by grouping-lift (ref
    // QueryGraph.cpp:30-340): group the inner query by its correlated
    // keys and left-join it into the outer FROM; the subquery
    // expression becomes a column reference. Like the reference (and
    // unlike standard SQL), an empty correlated group yields NULL.
    val stmt = {
      var st = stmt0
      def rw(e: Expr): Expr = transformExpr(e) {
        case q @ QueryExpr(sub) if isCorrelated(sub, scope) =>
          val (joined, newScope, ref) = decorrelate(sub, scope, fromDf)
          fromDf = joined; scope = newScope
          ref
      }
      val st2 = st.copy(
        items = st.items.map(i => i.copy(expr = rw(i.expr))),
        where = st.where.map(rw),
        groupBy = st.groupBy.map(k => k.copy(expr = rw(k.expr))),
        having = st.having.map(rw),
        orderBy = st.orderBy.map(o => o.copy(expr = rw(o.expr))))
      // positions live outside the case-class fields; carry them over
      st2.at(stmt0)
      st2.groupLine = stmt0.groupLine; st2.groupCol = stmt0.groupCol
      st2
    }

    // WHERE (no aggregates allowed here — ref Sema stage machine)
    val filtered = stmt.where match {
      case Some(w) =>
        val t = resolveScalar(w, scope, allowAgg = false)
        if (t.tpe != MBool && t.tpe != MNull)
          throw new SemaError("WHERE condition must be boolean")
        fromDf.filter(t.col)
      case None => fromDf
    }

    // detect aggregates anywhere downstream of WHERE; a HAVING clause
    // always implies an aggregation context (ref: HAVING without
    // GROUP BY is a filter over the single global-aggregate row)
    val hasAgg = stmt.groupBy.nonEmpty || stmt.having.nonEmpty ||
      (stmt.items.map(_.expr) ++ stmt.orderBy.map(_.expr))
        .exists(containsAggregate)

    val (workDf, outScope) =
      if (hasAgg) planGrouped(stmt, scope, filtered)
      else (filtered, null)

    // SELECT projection. With grouping, `*` expands to the grouping
    // keys — the reference synthesizes one designator per AST key and
    // re-resolves it, so a bare key name occurring in several keys
    // errors once PER KEY at the key's own position (ref Sema.cpp:1041-
    // 1062 + :181; corpus sema-san select_ambiguous_from_group_by).
    val items: Seq[(Column, String, MType)] = stmt.items.flatMap {
      case SelectItem(_: Star, _) if hasAgg =>
        if (stmt.groupBy.isEmpty)
          throw new SemaError("SELECT * is invalid with global aggregates")
        val reg = outScope.starKeys
        stmt.groupBy.flatMap { gk =>
          val name = gk.alias.getOrElse(gk.expr match {
            case i: Id => i.name
            case e => exprName(e)
          })
          val hits = reg.filter(_._2.equalsIgnoreCase(name))
          if (hits.size > 1) {
            diags += Diag(gk.expr.line, gk.expr.col,
              s"Designator $name is ambiguous, multiple occurrences in GROUP BY clause.")
            Nil
          } else if (hits.isEmpty) {
            // only reachable when the key itself failed sema earlier
            // (e.g. scalar grouping key) — the reference then fails to
            // resolve the synthesized designator, a second error
            diags += Diag(gk.expr.line, gk.expr.col,
              s"Designator $name could not be resolved.")
            Nil
          } else Seq(hits.head)
        }
      case SelectItem(st: Star, _) =>
        // per-attribute expansion: a duplicate-named attribute of a
        // nested-query source errors once per occurrence, anchored at
        // the `*` (ref Sema.cpp:1089-1110 expansion designators carry
        // select_all.pos; corpus select_ambiguous_from_subquery-1)
        scope.sources.flatMap { s =>
          s.fields.flatMap { case (n, t) =>
            val dup = s.fields.count(f =>
              baseName(f._1).equalsIgnoreCase(baseName(n)))
            if (dup > 1) {
              diags += Diag(st.line, st.col,
                s"Source ${s.alias} has multiple attributes ${baseName(n)}.")
              Nil
            } else Seq((col(s"${s.alias}.$n"), n, t))
          }
        }
      case SelectItem(e, alias) =>
        val t = if (hasAgg) outScope.resolve(e)
          else resolveScalar(e, scope, allowAgg = false)
        Seq((t.col, alias.getOrElse(exprName(e)), t.tpe))
    }
    // sema of the SELECT list is done — surface every deferred error
    if (diags.nonEmpty) throw new SemaError(diags.toList)

    // Duplicate output names (SELECT key, key / SELECT *, key) are
    // legal in the dialect but trip Spark's optimizer on self-referring
    // plans — uniquify the internal aliases; printing ignores names.
    val uniqueNames: Seq[String] = {
      val seen = mutable.Map.empty[String, Int]
      items.map { case (_, n, _) =>
        val k = n.toLowerCase
        val c = seen.getOrElse(k, 0)
        seen(k) = c + 1
        if (c == 0) n else s"${n}__dup$c"
      }
    }

    // ORDER BY may reference select aliases or arbitrary expressions:
    // project select items + hidden sort columns, sort, then drop.
    val aliasMap: Map[String, Int] = items.zipWithIndex
      .map { case ((_, n, _), i) => n.toLowerCase -> i }.toMap
    val sortCols = mutable.Buffer.empty[(Column, Boolean, Option[String])]
    stmt.orderBy.foreach { oi =>
      oi.expr match {
        case Id(None, n) if aliasMap.contains(n.toLowerCase) =>
          sortCols += ((col(uniqueNames(aliasMap(n.toLowerCase))), oi.ascending, None))
        case e =>
          // ref Sema: ORDER BY keys must be vectorial — a constant
          // (scalar) sort key is an error
          if (!containsId(e) && !containsAggregate(e))
            throw new SemaError("cannot ORDER BY a scalar (constant) expression")
          val t = if (hasAgg) outScope.resolve(e)
            else resolveScalar(e, scope, allowAgg = false)
          val hidden = s"__ord_${sortCols.size}"
          sortCols += ((t.col, oi.ascending, Some(hidden)))
      }
    }

    val hidden = sortCols.collect { case (c, _, Some(h)) => (c, h) }
    val named = items.zip(uniqueNames).map { case ((c, _, _), n) => c.as(n) } ++
      hidden.map { case (c, h) => c.as(h) }
    var out = workDf.select(named: _*)

    if (sortCols.nonEmpty) {
      val orders = sortCols.map {
        case (_, asc, Some(h)) => if (asc) col(h).asc else col(h).desc
        case (c, asc, None) => if (asc) c.asc else c.desc
      }
      out = out.orderBy(orders.toSeq: _*)
    }
    stmt.offset.foreach(o => out = out.offset(o.toInt))
    stmt.limit.foreach(l => out = out.limit(l.toInt))
    // drop (not re-select) the hidden sort columns: generated output
    // names may contain dots/parens that col() would re-parse
    hidden.foldLeft(out) { case (df, (_, h)) => df.drop(h) }
  }

  /** Scope over a grouped DataFrame: group keys by *resolved* identity
    * (qualified and bare spellings of the same column unify — `GROUP BY
    * t.x` + `SELECT x` works, ref Sema designator semantics) or alias,
    * plus aggregate calls by structure. */
  private final class GroupedScope(
      srcScope: Scope,
      keyByExpr: Seq[(Expr, String, MType)],
      keyByAlias: Map[String, (String, MType)],
      aggCols: mutable.LinkedHashMap[FnCall, (String, Typed)]) {

    /** Canonicalize every designator in `e` to its fully-qualified
      * resolved spelling, so structural comparison is spelling-blind. */
    private def canon(e: Expr): Expr = e match {
      case Id(t, n) =>
        val (qn, _) = srcScope.resolve(t, n)
        val i = qn.lastIndexOf('.')
        Id(Some(qn.substring(0, i)), qn.substring(i + 1))
      case Unary(op, x) => Unary(op, canon(x))
      case Binary(op, l, r) => Binary(op, canon(l), canon(r))
      case Like(l, p, n) => Like(canon(l), canon(p), n)
      case FnCall(n, args, s) => FnCall(n, args.map(canon), s)
      case other => other
    }
    private def canonOpt(e: Expr): Option[Expr] =
      try Some(canon(e)) catch { case _: SemaError => None }
    private val canonKeys: Seq[(Option[Expr], String, MType)] =
      keyByExpr.map { case (e, n, t) => (canonOpt(e), n, t) }

    /** The grouping keys, for `SELECT *` expansion. */
    def starKeys: Seq[(Column, String, MType)] =
      keyByExpr.map { case (_, n, t) => (col(n), n, t) }

    def resolve(e: Expr): Typed = e match {
      // a bare designator first resolves against the grouping keys'
      // output names (ref: `GROUP BY R.key` + `SELECT key`); several
      // keys with the same bare name are ambiguous
      case id @ Id(None, n) if keyByExpr.exists(_._2.equalsIgnoreCase(n)) =>
        keyByExpr.filter(_._2.equalsIgnoreCase(n)) match {
          case Seq((_, kn, t)) => Typed(col(kn), t)
          case _ => throw SemaError.at(id,
            s"Designator $n is ambiguous, multiple occurrences in GROUP BY clause.")
        }
      case _ if canonKeys.exists(k => k._1.isDefined && k._1 == canonOpt(e)) =>
        val (_, n, t) = canonKeys.find(k => k._1.isDefined && k._1 == canonOpt(e)).get
        Typed(col(n), t)
      case Id(None, n) if keyByAlias.contains(n.toLowerCase) =>
        val (cn, t) = keyByAlias(n.toLowerCase)
        Typed(col(cn), t)
      case fc: FnCall if AggNames.contains(fc.name.toUpperCase) =>
        val (n, t) = aggCols.getOrElseUpdate(fc,
          throw new SemaError(s"internal: unregistered aggregate $fc"))
        Typed(col(n), t.tpe)
      case IntLit(v) => Typed(lit(v), MInt(8))
      case FloatLit(v, _) => Typed(lit(v), MFloat(64))
      case StrLit(v) => Typed(lit(v), MStr(v.length, varying = true))
      case BoolLit(v) => Typed(lit(v), MBool)
      case NullLit => Typed(lit(null), MNull)
      case d: DateLit => Typed(lit(Planner.dateValue(d)), MDate)
      case d: DateTimeLit => Typed(lit(Planner.dateTimeValue(d)), MDateTime)
      case Unary(op, x) => buildUnary(op, resolve(x))
      case Binary(op, l, r) => buildBinary(op, resolve(l), resolve(r))
      case Like(x, p, neg) => buildLike(resolve(x), resolve(p), neg)
      case FnCall(n, args, _) if !AggNames.contains(n.toUpperCase) =>
        buildScalarFn(n, args.map(resolve))
      case Id(t, n) =>
        val (qn, _) = srcScope.resolve(t, n)
        throw new SemaError(
          s"column '$qn' must appear in GROUP BY or inside an aggregate")
      case q: QueryExpr => scalarSubquery(q)
      case other => throw new SemaError(s"cannot use $other here")
    }
  }

  /** Build the grouped/aggregated DataFrame and its resolution scope. */
  private def planGrouped(stmt: SelectStmt, scope: Scope,
      input: DataFrame): (DataFrame, GroupedScope) = {
    // group keys: arbitrary expressions, each aliasable (ref
    // Sema.cpp:1271-1305 GROUP BY alias feature)
    val keys: Seq[(Expr, String, Option[String], Typed)] =
      stmt.groupBy.flatMap { gk =>
        val t = resolveScalar(gk.expr, scope, allowAgg = false)
        if (!containsId(gk.expr)) {
          // ref Sema.cpp:1290-1293: record the error at the GROUP token
          // and keep checking — `SELECT *` then fails to resolve the
          // dropped key, the reference's second error
          diags += Diag(stmt.groupLine, stmt.groupCol,
            s"Cannot group by ${exprName(gk.expr)}. Expressions in the " +
              "GROUP BY clause must be vectorial, i.e. they must depend " +
              "on each row separately.")
          None
        } else {
          val name = gk.alias.getOrElse(exprName(gk.expr))
          Some((gk.expr, name, gk.alias, t))
        }
      }

    // collect aggregate calls from SELECT / HAVING / ORDER BY
    val aggCalls = mutable.LinkedHashMap.empty[FnCall, (String, Typed)]
    def collect(e: Expr): Unit = e match {
      case fc @ FnCall(n, args, star) if AggNames.contains(n.toUpperCase) =>
        if (args.exists(containsAggregate))
          throw new SemaError("nested aggregates are not allowed")
        if (!aggCalls.contains(fc)) {
          val idx = aggCalls.size
          aggCalls(fc) = (s"__agg_$idx", buildAggregate(fc, scope))
        }
      case Unary(_, x) => collect(x)
      case Binary(_, l, r) => { collect(l); collect(r) }
      case Like(l, p, _) => { collect(l); collect(p) }
      case FnCall(_, args, _) => args.foreach(collect)
      case _ => ()
    }
    (stmt.items.map(_.expr) ++ stmt.having ++ stmt.orderBy.map(_.expr))
      .foreach(collect)

    val keyCols = keys.map { case (_, name, _, t) => t.col.as(name) }
    // HAVING with neither keys nor aggregates still needs a global
    // aggregation row to filter — use a dummy count
    val aggColsSeq = {
      val base = aggCalls.toSeq.map { case (_, (n, t)) => t.col.as(n) }
      if (base.isEmpty && keys.isEmpty) Seq(count(lit(1)).as("__agg_dummy"))
      else base
    }
    val grouped =
      if (keys.isEmpty) input.agg(aggColsSeq.head, aggColsSeq.tail: _*)
      else if (aggColsSeq.isEmpty)
        input.select(keyCols: _*).distinct() // pure GROUP BY ≡ distinct keys
      else input.groupBy(keyCols: _*).agg(aggColsSeq.head, aggColsSeq.tail: _*)

    val gscope = new GroupedScope(
      scope,
      keys.map { case (e, n, _, t) => (e, n, t.tpe) },
      keys.collect { case (_, n, Some(a), t) => a.toLowerCase -> (n, t.tpe) }.toMap,
      aggCalls)

    // HAVING filters the grouped result (ref QueryGraph.cpp:1773-1791)
    val withHaving = stmt.having match {
      case Some(h) =>
        val t = gscope.resolve(h)
        if (t.tpe != MBool && t.tpe != MNull)
          throw new SemaError("HAVING condition must be boolean")
        grouped.filter(t.col)
      case None => grouped
    }
    (withHaving, gscope)
  }

  // ------------------------------------------------- decorrelation

  private var sqCounter = 0

  /** Bottom-up expression transform. */
  private def transformExpr(e: Expr)(f: PartialFunction[Expr, Expr]): Expr = {
    val rec = (x: Expr) => transformExpr(x)(f)
    val mapped = e match {
      case Unary(op, x) => Unary(op, rec(x)).at(e)
      case Binary(op, l, r) => Binary(op, rec(l), rec(r)).at(e)
      case Like(l, p, n) => Like(rec(l), rec(p), n).at(e)
      case FnCall(n, args, s) => FnCall(n, args.map(rec), s).at(e)
      case other => other
    }
    f.applyOrElse(mapped, identity[Expr])
  }

  private def collectIds(e: Expr): Seq[Id] = e match {
    case i: Id => Seq(i)
    case Unary(_, x) => collectIds(x)
    case Binary(_, l, r) => collectIds(l) ++ collectIds(r)
    case Like(l, p, _) => collectIds(l) ++ collectIds(p)
    case FnCall(_, args, _) => args.flatMap(collectIds)
    case _ => Nil
  }

  private def innerScopeOf(sub: SelectStmt): Scope = new Scope(sub.from.map {
    case FromTable(name, alias) =>
      val ct = lookup(name).getOrElse(
        throw new SemaError(s"unknown table '$name'"))
      Source(alias.getOrElse(name), ct.fields)
    case fq: FromQuery =>
      // conservatively treat nested-query sources as opaque here
      Source(fq.aliasName, Nil)
  })

  private def resolvesIn(id: Id, s: Scope): Boolean =
    try { s.resolve(id.table, id.name); true }
    catch { case _: SemaError => false }

  /** A subquery is correlated iff some identifier resolves only in the
    * outer scope. */
  private def isCorrelated(sub: SelectStmt, outer: Scope): Boolean = {
    val inner = innerScopeOf(sub)
    val ids = (sub.items.map(_.expr) ++ sub.where ++
      sub.groupBy.map(_.expr) ++ sub.having ++ sub.orderBy.map(_.expr))
      .flatMap(collectIds)
    ids.exists(id => !resolvesIn(id, inner) && resolvesIn(id, outer))
  }

  /** Grouping-lift decorrelation: split the subquery's WHERE into
    * inner-only conjuncts and correlated equi-predicates
    * `innerExpr = outerExpr`; group the inner query by its correlated
    * keys; left-join on those keys. Returns the widened FROM plan, the
    * widened scope, and the replacement column reference. */
  private def decorrelate(sub: SelectStmt, outer: Scope, fromDf: DataFrame)
      : (DataFrame, Scope, Expr) = {
    if (sub.items.length != 1 || !containsAggregate(sub.items.head.expr))
      throw new SemaError(
        "correlated subquery must select exactly one aggregate expression")
    if (sub.groupBy.nonEmpty || sub.having.nonEmpty || sub.orderBy.nonEmpty)
      throw new SemaError(
        "correlated subquery with GROUP BY/HAVING/ORDER BY is not supported")
    val inner = innerScopeOf(sub)
    def sideIsInner(e: Expr): Boolean =
      collectIds(e).forall(resolvesIn(_, inner))
    def sideIsOuter(e: Expr): Boolean = {
      val ids = collectIds(e)
      ids.nonEmpty && ids.forall(id =>
        !resolvesIn(id, inner) && resolvesIn(id, outer))
    }
    val conjuncts = sub.where.toSeq.flatMap(splitAnd)
    val cmpOps = Set("=", "!=", "<", "<=", ">", ">=")
    // (innerKey, outerKey) equi pairs; lifted non-equi predicates as
    // (innerExpr, op, outerExpr) with op oriented inner-op-outer
    val (innerOnly, correlated, nonEqui) = {
      val io = Seq.newBuilder[Expr]
      val co = Seq.newBuilder[(Expr, Expr)]
      val ne = Seq.newBuilder[(Expr, String, Expr)]
      def flipOp(op: String): String = op match {
        case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
        case other => other
      }
      conjuncts.foreach {
        case c if sideIsInner(c) => io += c
        case Binary("=", l, r) if sideIsInner(l) && sideIsOuter(r) => co += ((l, r))
        case Binary("=", l, r) if sideIsOuter(l) && sideIsInner(r) => co += ((r, l))
        case Binary(op, l, r) if cmpOps(op) && sideIsInner(l) && sideIsOuter(r) =>
          ne += ((l, op, r))
        case Binary(op, l, r) if cmpOps(op) && sideIsOuter(l) && sideIsInner(r) =>
          ne += ((r, flipOp(op), l))
        case other => throw new SemaError(
          s"unsupported correlated predicate: ${exprName(other)}")
      }
      (io.result(), co.result(), ne.result())
    }
    if (correlated.isEmpty)
      throw new SemaError(
        if (nonEqui.isEmpty) "internal: subquery is not correlated"
        else "correlated subquery needs at least one equi-predicate " +
          "(non-equi-only correlation would require a dependent join)")
    // ref QueryGraph.cpp:460-530: a non-equi correlated clause lifts
    // above the grouping iff its bound (inner) side is composable of
    // the grouping keys — here, one of the equi-derived keys. The
    // predicate then filters the (single) matching group per outer
    // row, exactly the reference's "trivial" decorrelation.
    val nonEquiKeyed: Seq[(Int, String, Expr)] = nonEqui.map {
      case (innerE, op, outerE) =>
        correlated.indexWhere(_._1 == innerE) match {
          case -1 => throw new SemaError(
            "the inner side of a non-equi correlated predicate must be " +
              s"composable of the grouping keys: ${exprName(innerE)}")
          case i => (i, op, outerE)
        }
    }

    sqCounter += 1
    val alias = s"__sq$sqCounter"
    val valName = "__sq_val"
    val keyNames = correlated.indices.map(i => s"__sq_k$i")
    // rebuild the inner query: SELECT agg AS __sq_val, k_i… GROUP BY k_i…
    val lifted = SelectStmt(
      items = SelectItem(sub.items.head.expr, Some(valName)) +:
        correlated.zipWithIndex.map { case ((k, _), i) =>
          SelectItem(k, Some(keyNames(i)))
        },
      from = sub.from,
      where = innerOnly.reduceOption((a, b) => Binary("AND", a, b)),
      groupBy = correlated.zipWithIndex.map { case ((k, _), i) =>
        GroupKey(k, Some(keyNames(i)))
      },
      having = None, orderBy = Nil, limit = None, offset = None)
    val subDf = plan(lifted).alias(alias)

    val joinCond = (correlated.zipWithIndex.map { case ((_, outerKey), i) =>
      val ok = resolveScalar(outerKey, outer, allowAgg = false)
      ok.col === col(s"$alias.${keyNames(i)}")
    } ++ nonEquiKeyed.map { case (i, op, outerE) =>
      val oc = resolveScalar(outerE, outer, allowAgg = false).col
      val kc = col(s"$alias.${keyNames(i)}")
      op match {
        case "=" => kc === oc
        case "!=" => kc =!= oc
        case "<" => kc < oc
        case "<=" => kc <= oc
        case ">" => kc > oc
        case ">=" => kc >= oc
      }
    }).reduce(_ && _)
    val joined = fromDf.join(subDf, joinCond, "left_outer")
    val widened = new Scope(outer.sources :+ Source(alias,
      subDf.schema.fields.toSeq.map(f => f.name -> MTypes.fromSpark(f.dataType))))
    (joined, widened, Id(Some(alias), valName))
  }

  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case Binary("AND", l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  // ----------------------------------------------------- expression build

  /** Whether `p` holds for `e` or an operand nested in it (a
    * subquery's own clauses are not entered). */
  private def exists(e: Expr)(p: Expr => Boolean): Boolean = p(e) || (e match {
    case Unary(_, x) => exists(x)(p)
    case Binary(_, l, r) => exists(l)(p) || exists(r)(p)
    case Like(l, pat, _) => exists(l)(p) || exists(pat)(p)
    case FnCall(_, args, _) => args.exists(exists(_)(p))
    case _ => false
  })

  private def containsAggregate(e: Expr): Boolean = exists(e) {
    case FnCall(n, _, _) => AggNames.contains(n.toUpperCase)
    case _ => false
  }

  private def containsId(e: Expr): Boolean = exists(e)(_.isInstanceOf[Id])

  /** Resolve an expression in a row context. */
  private def resolveScalar(e: Expr, scope: Scope, allowAgg: Boolean): Typed = e match {
    case id: Id =>
      val (qn, tpe) = scope.resolve(id)
      Typed(col(qn), tpe)
    case IntLit(v) => Typed(lit(v), MInt(8))
    case FloatLit(v, _) => Typed(lit(v), MFloat(64))
    case StrLit(v) => Typed(lit(v), MStr(v.length, varying = true))
    case BoolLit(v) => Typed(lit(v), MBool)
    case NullLit => Typed(lit(null), MNull)
    case d: DateLit => Typed(lit(Planner.dateValue(d)), MDate)
    case d: DateTimeLit => Typed(lit(Planner.dateTimeValue(d)), MDateTime)
    case Unary(op, x) => buildUnary(op, resolveScalar(x, scope, allowAgg))
    case Binary(op, l, r) =>
      buildBinary(op, resolveScalar(l, scope, allowAgg),
        resolveScalar(r, scope, allowAgg))
    case Like(x, p, neg) =>
      buildLike(resolveScalar(x, scope, allowAgg),
        resolveScalar(p, scope, allowAgg), neg)
    case FnCall(n, _, _) if AggNames.contains(n.toUpperCase) =>
      throw new SemaError(s"aggregate ${n.toUpperCase} is not allowed here")
    case FnCall(n, args, _) =>
      buildScalarFn(n, args.map(resolveScalar(_, scope, allowAgg)))
    case q: QueryExpr => scalarSubquery(q)
    case _: Star => throw new SemaError("'*' is only valid in SELECT or COUNT(*)")
  }

  private def scalarSubquery(q: QueryExpr): Typed = {
    val sub = plan(q.q)
    if (sub.schema.fields.length != 1)
      throw new SemaError("scalar subquery must return exactly one column")
    Typed(GraftShim.scalarSubquery(sub),
      MTypes.fromSpark(sub.schema.fields.head.dataType))
  }

  private def buildUnary(op: String, x: Typed): Typed = op match {
    case "NOT" =>
      if (x.tpe != MBool && x.tpe != MNull)
        throw new SemaError("NOT requires a boolean operand")
      Typed(!x.col, MBool)
    case "+" =>
      if (!x.tpe.isNumeric) throw new SemaError("unary + requires numeric")
      x
    case "-" =>
      if (!x.tpe.isNumeric) throw new SemaError("unary - requires numeric")
      Typed(negate(x.col), x.tpe)
    case "~" => x.tpe match {
      case MInt(_) => Typed(bitwise_not(x.col), x.tpe)
      case _ => throw new SemaError("~ requires an integer operand")
    }
  }

  private def buildBinary(op: String, l: Typed, r: Typed): Typed = op match {
    case "+" | "-" | "*" | "/" | "%" =>
      if (!opOk(l.tpe) || !opOk(r.tpe))
        throw new SemaError(s"invalid operands to '$op': ${l.tpe}, ${r.tpe}")
      val res = MTypes.arithmeticJoin(l.tpe, r.tpe)
      val c = op match {
        case "+" => l.col + r.col
        case "-" => l.col - r.col
        case "*" => l.col * r.col
        case "/" => (l.tpe, r.tpe) match {
          case (MInt(_), MInt(_)) => GraftShim.integralDivide(l.col, r.col)
          case _ => l.col / r.col
        }
        case "%" => l.col % r.col
      }
      // integral divide yields long; keep the lattice type
      Typed(if (op == "/" && res.isInstanceOf[MInt]) c.cast(MTypes.toSpark(res)) else c, res)
    case ".." =>
      if (!strOk(l.tpe) || !strOk(r.tpe))
        throw new SemaError("'..' requires string operands")
      val len = (l.tpe, r.tpe) match {
        case (MStr(a, _), MStr(b, _)) =>
          if (a == Int.MaxValue || b == Int.MaxValue) Int.MaxValue else a + b
        case _ => Int.MaxValue
      }
      Typed(concat(l.col, r.col), MStr(len, varying = false))
    case "=" | "!=" | "<" | "<=" | ">" | ">=" =>
      val eq = op == "=" || op == "!="
      if (!MTypes.comparable(l.tpe, r.tpe, eq))
        throw new SemaError(s"cannot compare ${l.tpe} with ${r.tpe}")
      val c = op match {
        case "=" => l.col === r.col
        case "!=" => l.col =!= r.col
        case "<" => l.col < r.col
        case "<=" => l.col <= r.col
        case ">" => l.col > r.col
        case ">=" => l.col >= r.col
      }
      Typed(c, MBool)
    case "AND" | "OR" =>
      if (!boolOk(l.tpe) || !boolOk(r.tpe))
        throw new SemaError(s"$op requires boolean operands")
      Typed(if (op == "AND") l.col && r.col else l.col || r.col, MBool)
    case other => throw new SemaError(s"unknown operator '$other'")
  }

  private def opOk(t: MType): Boolean = t.isNumeric || t == MNull
  private def strOk(t: MType): Boolean = t.isString || t == MNull
  private def boolOk(t: MType): Boolean = t == MBool || t == MNull

  private def buildLike(x: Typed, p: Typed, negated: Boolean): Typed = {
    if (!strOk(x.tpe) || !strOk(p.tpe))
      throw new SemaError("LIKE requires string operands")
    val c = GraftShim.like(x.col, p.col)
    Typed(if (negated) !c else c, MBool)
  }

  private def buildScalarFn(name: String, args: Seq[Typed]): Typed =
    name.toUpperCase match {
      case "ISNULL" =>
        if (args.length != 1) throw new SemaError("ISNULL takes one argument")
        Typed(isnull(args.head.col), MBool)
      case "INT" =>
        if (args.length != 1) throw new SemaError("INT takes one argument")
        val a = args.head
        if (!a.tpe.isNumeric && a.tpe != MBool && a.tpe != MNull)
          throw new SemaError(s"cannot cast ${a.tpe} to INT")
        Typed(a.col.cast("int"), MInt(4))
      case other => throw new SemaError(s"unknown function '$other'")
    }

  /** Aggregate typing per ref Functions.tbl/Sema.cpp:554-643:
    * COUNT→INT(8); MIN/MAX preserve; AVG→DOUBLE; SUM: int→INT(8),
    * float→DOUBLE, decimal→DECIMAL(19,s). Float SUM/AVG accumulate in
    * exact decimal for cross-partition determinism. */
  private def buildAggregate(fc: FnCall, scope: Scope): Typed = {
    val name = fc.name.toUpperCase
    if (name == "COUNT" && (fc.star || fc.args.isEmpty))
      return Typed(count(lit(1)), MInt(8))
    if (fc.args.length != 1)
      throw new SemaError(s"$name takes exactly one argument")
    val a = resolveScalar(fc.args.head, scope, allowAgg = false)
    name match {
      case "COUNT" => Typed(count(a.col), MInt(8))
      case "MIN" | "MAX" =>
        if (!a.tpe.isNumeric && a.tpe != MDate && a.tpe != MDateTime && !a.tpe.isString)
          throw new SemaError(s"$name requires a comparable argument")
        Typed(if (name == "MIN") min(a.col) else max(a.col), a.tpe)
      case "SUM" => a.tpe match {
        case MInt(_) => Typed(sum(a.col).cast("long"), MInt(8))
        case MFloat(32) =>
          // FLOAT sums accumulate in double exactly like the reference
          // (running f64 accumulator over widened f32 values) — the
          // f32→f64 widening is exact, so goldens reproduce bit-for-bit
          Typed(sum(a.col.cast("double")), MFloat(64))
        case MFloat(_) =>
          Typed(graft.operators.Exact.dsum(a.col), MFloat(64))
        case MDecimal(_, s) =>
          Typed(sum(a.col).cast(DecimalType(19, s)), MDecimal(19, s))
        case t => throw new SemaError(s"SUM requires numeric, got $t")
      }
      case "AVG" => a.tpe match {
        case _ if !a.tpe.isNumeric =>
          throw new SemaError(s"AVG requires numeric, got ${a.tpe}")
        case _ if refParity =>
          // the reference computes AVG as the Knuth iterative mean
          // (Interpreter.cpp:1241) — order-dependent in the last ulp;
          // parity mode reproduces it bit-for-bit
          Typed(udaf(graft.functions.RunningAvgAgg)
            .apply(a.col.cast("double")), MFloat(64))
        case MFloat(32) =>
          Typed(sum(a.col.cast("double")) / count(a.col), MFloat(64))
        case MFloat(_) =>
          // exact sum → double, THEN divide: double division is
          // IEEE-identical everywhere
          Typed(graft.operators.Exact.dsum(a.col) / count(a.col), MFloat(64))
        case _ =>
          Typed(avg(a.col).cast("double"), MFloat(64))
      }
    }
  }

  /** Output name for an unaliased select item (bare column name for
    * designators, pretty-printed text otherwise). */
  private def exprName(e: Expr): String = e match {
    case Id(_, n) => n
    case FnCall(n, args, star) =>
      val inner = if (star) "*" else args.map(exprName).mkString(", ")
      s"${n.toLowerCase}($inner)"
    case IntLit(v) => v.toString
    case FloatLit(v, _) => v.toString
    case StrLit(v) => v
    case BoolLit(v) => v.toString
    case NullLit => "NULL"
    case DateLit(i) => s"d'$i'"
    case DateTimeLit(i) => s"d'$i'"
    case Unary(op, x) => s"($op${exprName(x)})"
    case Binary(op, l, r) => s"(${exprName(l)} $op ${exprName(r)})"
    case Like(l, p, _) => s"(${exprName(l)} LIKE ${exprName(p)})"
    case _: QueryExpr => "(subquery)"
    case _: Star => "*"
  }
}

/** The dialect's one date/datetime literal parser, used by SELECT,
  * INSERT and index routing alike. It returns java.time values, not
  * java.sql ones: Catalyst converts them proleptically, so ancient
  * years skip the hybrid-calendar rebase. */
object Planner {
  import java.time.{DateTimeException, Instant, LocalDate, LocalDateTime, ZoneOffset}

  // a year may be negative or longer than four digits (ref
  // Lexer.cpp:229-267; fixtures contain -4820-04-04)
  private val Ymd = "(-?\\d+)-(\\d{1,2})-(\\d{1,2})"
  private val DateRe = Ymd.r
  private val DateTimeRe = s"$Ymd +(\\d{1,2}):(\\d{1,2}):(\\d{1,2})".r

  /** `d'Y-MM-DD'` as a date; it must fit Spark's Int day count. */
  def dateValue(d: DateLit): LocalDate = parse(d.iso) {
    case DateRe(y, m, dd) =>
      val v = LocalDate.of(y.toInt, m.toInt, dd.toInt)
      Math.toIntExact(v.toEpochDay)
      v
  }

  /** `d'Y-MM-DD hh:mm:ss'` as an instant at UTC; it must fit Spark's
    * Long microsecond count. */
  def dateTimeValue(d: DateTimeLit): Instant = parse(d.iso) {
    case DateTimeRe(y, m, dd, hh, mi, ss) =>
      val v = LocalDateTime.of(y.toInt, m.toInt, dd.toInt, hh.toInt, mi.toInt, ss.toInt)
        .toInstant(ZoneOffset.UTC)
      Math.multiplyExact(v.getEpochSecond, 1000000L)
      v
  }

  /** A malformed or out-of-range literal is a SemaError naming it. */
  private def parse[T](iso: String)(f: PartialFunction[String, T]): T = {
    def bad = new SemaError(s"invalid date literal d'$iso'")
    try f.applyOrElse(iso.trim, (_: String) => throw bad)
    catch {
      case _: DateTimeException | _: NumberFormatException | _: ArithmeticException =>
        throw bad
    }
  }
}
