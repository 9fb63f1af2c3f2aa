package graft

import graft.analyzer._
import graft.parser.{Ast, Parser}
import graft.parser.Ast._
import graft.planner.{CatalogTable, Planner}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Execution result of one dialect statement. */
sealed trait ExecResult
final case class QueryResult(df: DataFrame) extends ExecResult
final case class CommandOk(message: String) extends ExecResult

/** Session + catalog for the mutable dialect: databases → tables
  * (ref include/mutable/catalog/Catalog.hpp / Schema.hpp §1.1 of
  * SURVEY.md). A table made by CREATE TABLE is an immutable row store
  * on the driver, like the reference's in-memory store: INSERT VALUES
  * and IMPORT DSV convert their batch when they run and append it, and
  * the planner sees the rows as one `LocalRelation`. A table added by
  * `registerExternal` (parquet-backed, for scale) keeps its DataFrame.
  * One database is "in use" at a time (`USE db`), like the reference. */
final class EngineSession(val spark: SparkSession,
    val refParity: Boolean = false) {
  import EngineSession.TableDef

  private val databases = mutable.Map[String, mutable.Map[String, TableDef]]()
  /** db name → (index name → definition); ref Database keeps a named
    * index registry (Schema.hpp:869, add_index/drop_index). Indexes
    * are bulkloaded lazily on first use and invalidated on INSERT /
    * IMPORT (ref DatabaseCommand.cpp:185-186). */
  private val dbIndexes = mutable.Map[String, mutable.Map[String, EngineSession.IndexDef]]()
  private var currentDb: Option[String] = None

  /** Name of the database in use (ref Catalog::get_database_in_use). */
  def currentDatabase: Option[String] = currentDb

  /** Cheap copy-on-write clone: new catalog maps, shared (immutable)
    * row stores and DataFrames. Used by the golden-corpus harness to
    * give every spec file a fresh catalog over the same fixture tables. */
  def fork(): EngineSession = {
    val s = new EngineSession(spark, refParity)
    databases.foreach { case (dbName, tables) =>
      val copy = mutable.Map[String, TableDef]()
      tables.foreach { case (n, t) => copy(n) = t.copy() }
      s.databases(dbName) = copy
    }
    dbIndexes.foreach { case (dbName, idx) =>
      val copy = mutable.Map[String, EngineSession.IndexDef]()
      idx.foreach { case (n, d) => copy(n) = d.copy() }
      s.dbIndexes(dbName) = copy
    }
    s.currentDb = currentDb
    s
  }

  private def db(): mutable.Map[String, TableDef] = currentDb match {
    case Some(n) => databases(n)
    case None => throw new SemaError("no database in use (USE <db>)")
  }

  /** Register an externally-backed table (e.g. driver parquet) into
    * the current database. */
  def registerExternal(name: String, df: DataFrame): Unit = {
    val fields = df.schema.fields.toSeq.map(f =>
      f.name -> MTypes.fromSpark(f.dataType))
    db().put(name.toLowerCase, TableDef(name, fields, Map.empty, df, None))
  }

  private def lookup(name: String): Option[CatalogTable] =
    db().get(name.toLowerCase).map(t => CatalogTable(t.df, t.fields))

  private def planner = new Planner(spark, lookup, refParity)

  /** Execute one or more dialect statements; returns the result of the
    * last one. */
  def execute(sql: String): ExecResult = {
    val stmts = Parser.parse(sql)
    if (stmts.isEmpty) throw new SemaError("empty input")
    stmts.map(executeStmt).last
  }

  /** Plan a SELECT without executing it (runs our Sema + Spark
    * analysis; used by the golden-corpus sema stage). */
  def planOnly(s: SelectStmt): DataFrame = planner.plan(s)

  /** Convenience: execute a single SELECT and return its DataFrame. */
  def query(sql: String): DataFrame = execute(sql) match {
    case QueryResult(df) => df
    case CommandOk(m) => throw new SemaError(s"not a query: $m")
  }

  def executeStmt(stmt: Stmt): ExecResult = stmt match {
    case s: SelectStmt => QueryResult(planSelect(s))

    case CreateDatabase(name) =>
      if (databases.contains(name.toLowerCase))
        throw new SemaError(s"database '$name' already exists")
      databases(name.toLowerCase) = mutable.Map.empty
      dbIndexes(name.toLowerCase) = mutable.Map.empty
      CommandOk(s"created database $name")

    case DropDatabase(name, ifExists) =>
      // ref Sema: the database in use cannot be dropped, even with
      // IF EXISTS (test/ddl sema-san-drop_database-in_use*)
      if (currentDb.contains(name.toLowerCase))
        throw new SemaError(s"cannot drop database '$name' while it is in use")
      if (databases.remove(name.toLowerCase).isEmpty && !ifExists)
        throw new SemaError(s"no database '$name'")
      dbIndexes.remove(name.toLowerCase).foreach(_.values.foreach(release))
      CommandOk(s"dropped database $name")

    case UseDatabase(name) =>
      if (!databases.contains(name.toLowerCase))
        throw new SemaError(s"no database '$name'")
      currentDb = Some(name.toLowerCase)
      CommandOk(s"using $name")

    case CreateTable(name, cols) =>
      if (db().contains(name.toLowerCase))
        throw new SemaError(s"table '$name' already exists")
      val fields = cols.map(c => c.name -> typeOf(c.tpe))
      // ---- constraint sema (ref src/parse/Sema.cpp:1490-1560) ----
      fields.groupBy(_._1.toLowerCase).foreach { case (n, hits) =>
        if (hits.size > 1)
          throw new SemaError(s"table '$name' has duplicate attribute '$n'")
      }
      val fieldMap = fields.map { case (n, t) => n.toLowerCase -> t }.toMap
      cols.foreach { c =>
        val refs = c.constraints.collect { case r: Ast.References => r }
        if (refs.size > 1)
          throw new SemaError(
            s"attribute '${c.name}' has multiple REFERENCES constraints")
        refs.foreach { case Ast.References(rt, rc) =>
          val target = db().getOrElse(rt.toLowerCase,
            throw new SemaError(s"REFERENCES unknown table '$rt'"))
          val tc = target.fields.find(_._1.equalsIgnoreCase(rc)).getOrElse(
            throw new SemaError(s"REFERENCES unknown column '$rt.$rc'"))
          if (tc._2 != typeOf(c.tpe))
            throw new SemaError(
              s"REFERENCES type mismatch: '${c.name}' is ${typeOf(c.tpe)}, '$rt.$rc' is ${tc._2}")
        }
        c.constraints.collect { case Ast.Check(e) =>
          // the CHECK expression must type-check against the table's
          // own columns and be boolean (ref Sema.cpp:1548)
          val t = inferType(e, fieldMap, name)
          if (t != MBool && t != MNull)
            throw new SemaError(s"CHECK constraint on '${c.name}' is not boolean")
        }
      }
      db().put(name.toLowerCase, TableDef(name, fields,
        cols.map(c => c.name -> c.constraints).toMap,
        GraftShim.localRelation(spark, sparkSchema(fields), Vector.empty),
        Some(Vector.empty)))
      CommandOk(s"created table $name")

    case DropTable(names, ifExists) =>
      names.foreach { n =>
        if (db().remove(n.toLowerCase).isEmpty && !ifExists)
          throw new SemaError(s"no table '$n'")
        // indexes do not outlive their table
        for (dbName <- currentDb; idx <- dbIndexes.get(dbName)) {
          idx.filterInPlace { (_, d) =>
            if (d.table == n.toLowerCase) { release(d); false }
            else true
          }
        }
      }
      CommandOk(s"dropped ${names.mkString(", ")}")

    // Indexes: sema per ref Sema.cpp:1620-1700 (name required, unique
    // — IF NOT EXISTS skips —, table must exist, method ∈ {DEFAULT,
    // array, rmi}, exactly one plain-attribute key), then recorded for
    // lazy bulkload: the first SELECT with a usable range/point
    // predicate on the key builds a storage.Indexes.DistributedIndex
    // and scans through it (ref IndexScan physical operator matching
    // Filter(Scan), WasmOperator.hpp:397).
    case CreateIndex(_, ifNot, name, table, method, keys) =>
      val indexes = dbIndexes(currentDb.getOrElse(
        throw new SemaError("no database in use")))
      val idxName = name.getOrElse(
        throw new SemaError("indexes without name are not supported"))
      if (indexes.contains(idxName.toLowerCase)) {
        if (ifNot) CommandOk(s"index $idxName already exists, skipping")
        else throw new SemaError(s"index '$idxName' already exists")
      } else {
        val t = db().getOrElse(table.toLowerCase,
          throw new SemaError(s"no table '$table'"))
        method.foreach { m =>
          if (!Set("default", "array", "rmi").contains(m.toLowerCase))
            throw new SemaError(s"index method '$m' is not supported")
        }
        if (keys.size > 1)
          throw new SemaError("more than one key field for indexes is not supported")
        val keyCol = keys.map {
          case Id(_, attr) =>
            t.fields.find(_._1.equalsIgnoreCase(attr)).getOrElse(
              throw new SemaError(s"attribute '$attr' does not exist in table '$table'"))._1
          case _ =>
            throw new SemaError("non-attribute key fields for indexes are not supported")
        }.headOption.getOrElse(
          throw new SemaError("indexes need exactly one key field"))
        indexes(idxName.toLowerCase) = EngineSession.IndexDef(
          idxName.toLowerCase, table.toLowerCase, keyCol,
          method.map(_.toLowerCase).getOrElse("default"))
        CommandOk(s"created index $idxName on $table")
      }

    case DropIndex(names, ifExists) =>
      val indexes = dbIndexes(currentDb.getOrElse(
        throw new SemaError("no database in use")))
      names.foreach { n =>
        indexes.remove(n.toLowerCase) match {
          case Some(d) => release(d)
          case None => if (!ifExists) throw new SemaError(s"no index '$n'")
        }
      }
      CommandOk(s"dropped index ${names.mkString(", ")}")

    case InsertStmt(table, rows) =>
      val t = db().getOrElse(table.toLowerCase,
        throw new SemaError(s"no table '$table'"))
      val schema = sparkSchema(t.fields)
      // NOT NULL / PRIMARY KEY enforcement (ref Sema validates tuple
      // shape; a NULL in a non-nullable attribute is a sema error)
      val notNull: Set[String] = t.constraints.collect {
        case (n, cs) if cs.contains(Ast.NotNull) || cs.contains(Ast.PrimaryKey) =>
          n.toLowerCase
      }.toSet
      val data = rows.map { r =>
        if (r.length != t.fields.length)
          throw new SemaError(
            s"INSERT arity ${r.length} != table arity ${t.fields.length}")
        Row.fromSeq(r.zip(t.fields).map { case (e, (n, tp)) =>
          val v = literalValue(e, tp)
          if (v == null && notNull.contains(n.toLowerCase))
            throw new SemaError(s"NULL value for NOT NULL attribute '$n'")
          v
        })
      }
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      val batch = data.map(r => toCatalyst(r).asInstanceOf[InternalRow])
      // CHECK enforcement: every inserted row must satisfy every CHECK,
      // evaluated over the batch alone; the filter folds into the
      // batch's LocalRelation on the driver, so `isEmpty` runs no job
      val newDf = GraftShim.localRelation(spark, schema, batch)
      t.constraints.foreach { case (cn, cs) =>
        cs.collect { case Ast.Check(e) =>
          if (!newDf.filter(!coalesce(checkColumn(e, t.fields), lit(true))).isEmpty)
            throw new SemaError(s"CHECK constraint on '$cn' violated by INSERT")
        }
      }
      append(t, schema, batch)
      CommandOk(s"inserted ${rows.length} rows into $table")

    // instructions (ref DatabaseCommand.cpp:23-48): learn_spns trains
    // a per-table SPN cardinality model over every table of the
    // database in use, feeding the join-order rule's selectivities
    case InstructionStmt(name, _) if name.equalsIgnoreCase("learn_spns") =>
      val dbName = currentDb.getOrElse(
        throw new SemaError("no database in use"))
      var learned = 0
      db().values.foreach { t =>
        val hasNumeric = t.fields.exists(f => f._2.isNumeric ||
          f._2 == MDate)
        if (hasNumeric && !t.df.isEmpty) {
          graft.optimizer.SpnCatalog.put(s"$dbName.${t.name}",
            graft.optimizer.Spn.learnFrom(t.df))
          learned += 1
        }
      }
      CommandOk(s"learned SPNs for $learned tables")

    // mirror of the reference's --train-cost-models shell option
    // (ref src/shell.cpp:388-391, "train a cost function on your
    // specific hardware"): run the seeded microbench suite and make
    // the trained model the join-reorder rule's cost function
    case InstructionStmt(name, _) if name.equalsIgnoreCase("train_cost_models") =>
      val models = graft.optimizer.TrainedCost.train(spark)
      graft.optimizer.JoinReorderRule.costModel =
        new graft.optimizer.TrainedCost.TrainedCostFunction(models)
      CommandOk("trained cost models (scan, join); join ordering now " +
        "uses the trained cost function")

    // component selection — the dialect-level equivalent of the
    // reference's catalog options `--plan-enumerator` /
    // `--cardinality-estimator` (ref Catalog.cpp:100-125) and the
    // shell's `--list-plan-enumerators` / `--list-cardinality-
    // estimators` (ref shell.cpp:338-351). Session-scoped: the choice
    // lands in this SparkSession's conf, read by JoinReorderRule per
    // plan. Extra args after the HeuristicSearch name select space,
    // heuristic, and search method (ref --hs-* options).
    case InstructionStmt(name, args) if name.equalsIgnoreCase("plan_enumerator") =>
      import graft.optimizer.{JoinReorder, JoinReorderRule}
      val chosen = args.headOption.getOrElse(
        throw new SemaError("\\plan_enumerator needs an enumerator name"))
      try {
        if (chosen.equalsIgnoreCase("HeuristicSearch")) {
          val space = args.lift(1).getOrElse("bottomup")
          val heuristic = args.lift(2).getOrElse("goo")
          val search = args.lift(3).getOrElse("AStar")
          // optional trailing args mirror --hs-wf / --hs-budget
          val weight = args.lift(4).map(a => a.toDoubleOption.getOrElse(
            throw new SemaError(s"weighting factor must be a number, got '$a'")))
          val budget = args.lift(5).map(a => a.toLongOption.getOrElse(
            throw new SemaError(s"expansion budget must be an integer, got '$a'")))
          JoinReorder.resolve(chosen, space, heuristic, search,
            weight.getOrElse(2.0), budget.getOrElse(Long.MaxValue)) // validate
          spark.conf.set(JoinReorderRule.HsSpaceConf, space)
          spark.conf.set(JoinReorderRule.HsHeuristicConf, heuristic)
          spark.conf.set(JoinReorderRule.HsSearchConf, search)
          // each \plan_enumerator invocation is self-contained: omitted
          // weight/budget reset to defaults instead of inheriting stale
          // values from a previous selection
          weight match {
            case Some(w) => spark.conf.set(JoinReorderRule.HsWeightConf, w.toString)
            case None => spark.conf.unset(JoinReorderRule.HsWeightConf)
          }
          budget match {
            case Some(b) => spark.conf.set(JoinReorderRule.HsBudgetConf, b.toString)
            case None => spark.conf.unset(JoinReorderRule.HsBudgetConf)
          }
        } else {
          // non-HeuristicSearch names take no space/heuristic/search args
          if (args.length > 1)
            throw new SemaError(
              s"plan enumerator '$chosen' takes no extra arguments")
          if (!chosen.equalsIgnoreCase("auto"))
            JoinReorder.resolve(chosen) // validate the name exists
        }
        spark.conf.set(JoinReorderRule.EnumeratorConf, chosen)
        CommandOk(s"plan enumerator set to $chosen")
      } catch {
        case e: IllegalArgumentException => throw new SemaError(e.getMessage)
      }

    case InstructionStmt(name, args) if name.equalsIgnoreCase("cardinality_estimator") =>
      import graft.optimizer.JoinReorderRule
      val chosen = args.headOption.getOrElse(
        throw new SemaError("\\cardinality_estimator needs an estimator name"))
      if (!Set("spn", "cartesianproduct", "injected").contains(chosen.toLowerCase))
        throw new SemaError(
          s"there is no cardinality estimator with the name \"$chosen\"")
      spark.conf.set(JoinReorderRule.EstimatorConf, chosen)
      CommandOk(s"cardinality estimator set to $chosen")

    case InstructionStmt(name, _) if name.equalsIgnoreCase("list_plan_enumerators") =>
      CommandOk(("auto" +: "HeuristicSearch" +:
        graft.optimizer.JoinReorder.enumerators.values.map(_.name).toSeq.sorted)
        .mkString("plan enumerators: ", ", ", ""))

    case InstructionStmt(name, _) if name.equalsIgnoreCase("list_cardinality_estimators") =>
      CommandOk("cardinality estimators: Spn, CartesianProduct, Injected")

    case InstructionStmt(name, _) =>
      throw new SemaError(s"instruction '\\$name' is not registered")

    // parity with ref DatabaseCommand.cpp:189-197 (parsed, unreachable)
    case _: UpdateStmt =>
      throw new UnsupportedOperationException("UPDATE not yet implemented")
    case _: DeleteStmt =>
      throw new UnsupportedOperationException("DELETE not yet implemented")

    case ImportDsv(table, path, rows, delim, esc, quote, hasHeader, skipHeader) =>
      val t = db().getOrElse(table.toLowerCase,
        throw new SemaError(s"no table '$table'"))
      // DATE/DATETIME cells may carry negative or >4-digit years
      // (ref Lexer.cpp:229-267; fixtures test/ours/data/D.csv), which
      // Spark's CSV date parser rejects — read them as strings and
      // convert declaratively with make_date/make_timestamp (codegen'd,
      // no UDF; stays fully pushdown-friendly for the other columns).
      val schema = StructType(t.fields.map { case (n, tp) =>
        val dt = tp match {
          case MDate | MDateTime => StringType
          case other => MTypes.toSpark(other)
        }
        StructField(n, dt)
      })
      val reader = spark.read
        .schema(schema)
        .option("delimiter", delim.getOrElse(","))
        .option("quote", quote.getOrElse("\""))
        .option("escape", esc.getOrElse("\\"))
        .option("header", (hasHeader || skipHeader).toString)
      var df = reader.csv(path)
      rows.foreach(n => df = df.limit(n.toInt))
      val converted = t.fields.map {
        case (n, MDate) =>
          val ymd = "^(-?\\d+)-(\\d{1,2})-(\\d{1,2})$"
          make_date(
            regexp_extract(col(n), ymd, 1).cast("int"),
            regexp_extract(col(n), ymd, 2).cast("int"),
            regexp_extract(col(n), ymd, 3).cast("int")).as(n)
        case (n, MDateTime) =>
          val p = "^(-?\\d+)-(\\d{1,2})-(\\d{1,2})[ T](\\d{1,2}):(\\d{1,2}):(\\d{1,2})$"
          make_timestamp(
            regexp_extract(col(n), p, 1).cast("int"),
            regexp_extract(col(n), p, 2).cast("int"),
            regexp_extract(col(n), p, 3).cast("int"),
            regexp_extract(col(n), p, 4).cast("int"),
            regexp_extract(col(n), p, 5).cast("int"),
            regexp_extract(col(n), p, 6).cast("decimal(8,6)")).as(n)
        case (n, _) => col(n)
      }
      // the file is read once, here: the table keeps the rows, not the
      // file (ref DSVReader loads into the store at IMPORT time)
      val tableSchema = sparkSchema(t.fields)
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(tableSchema)
      append(t, tableSchema, df.select(converted: _*).collect().toSeq
        .map(r => toCatalyst(r).asInstanceOf[InternalRow]))
      CommandOk(s"imported $path into $table")
  }

  private def sparkSchema(fields: Seq[(String, MType)]): StructType =
    StructType(fields.map { case (n, t) => StructField(n, MTypes.toSpark(t)) })

  /** Append one converted batch, O(batch): a dialect table's store
    * grows by it and its plan stays one LocalRelation; an external
    * table unions it onto its DataFrame. Indexes on the table are
    * invalidated. */
  private def append(t: TableDef, schema: StructType, batch: Seq[InternalRow]): Unit = {
    t.rows match {
      case Some(rows) =>
        val all = rows ++ batch
        t.rows = Some(all)
        t.df = GraftShim.localRelation(spark, schema, all)
      case None =>
        t.df = t.df.unionByName(GraftShim.localRelation(spark, schema, batch))
    }
    invalidateIndexes(t.name)
  }

  /** Drop an index's built structure, releasing what it persisted. */
  private def release(d: EngineSession.IndexDef): Unit = {
    d.built.foreach(_.unpersist())
    d.built = None
  }

  /** Drop the built structure (keep the definition) for every index on
    * `table` — ref invalidates indexes on insert
    * (DatabaseCommand.cpp:185-186). */
  private def invalidateIndexes(table: String): Unit =
    for {
      dbName <- currentDb
      idx <- dbIndexes.get(dbName)
      d <- idx.values if d.table == table.toLowerCase
    } release(d)

  /** The IndexScan access path (ref physical operator pattern
    * Filter(Scan) → IndexScan, WasmOperator.hpp:397-406): for a
    * single-table SELECT whose WHERE has top-level conjuncts
    * `key cmp int-literal` on an indexed integer key, serve the scan
    * through the index (driver-side fence pruning + partition-local
    * bounded search). The full WHERE still runs on top, so routing
    * can never change results — exactly the reference's residual
    * filter behavior. Returns the table (lowercase) and replacement
    * source, or None when no index applies. */
  private def indexRoute(s: SelectStmt): Option[(String, DataFrame)] = s.from match {
    case Seq(FromTable(tname, alias)) =>
      val tLc = tname.toLowerCase
      for {
        dbName <- currentDb
        idx <- dbIndexes.get(dbName)
        t <- db().get(tLc)
        where <- s.where
        routed <- {
          val aliasLc = alias.getOrElse(tname).toLowerCase
          def conjuncts(e: Expr): Seq[Expr] = e match {
            case Binary("AND", l, r) => conjuncts(l) ++ conjuncts(r)
            case x => Seq(x)
          }
          def flip(op: String): String = op match {
            case "<" => ">"
            case "<=" => ">="
            case ">" => "<"
            case ">=" => "<="
            case other => other
          }
          /** [lo, hi] the WHERE pins on `entry`'s key, or None when no
            * conjunct constrains it. */
          def boundsFor(entry: EngineSession.IndexDef): Option[(Long, Long)] = {
            val keyIsDate = t.fields.exists(f =>
              f._1.equalsIgnoreCase(entry.keyCol) && f._2 == MDate)
            // literal of the key's own type, as the index's Long key
            // space (strict comparability already rejects e.g. date
            // keys compared to ints at sema, so no cross-type cases)
            def litKey(e: Expr): Option[Long] = e match {
              case IntLit(v) if !keyIsDate => Some(v)
              case DateLit(iso) if keyIsDate =>
                val p = iso.trim
                val (sign, rest) = if (p.startsWith("-")) (-1, p.drop(1)) else (1, p)
                rest.split("-").map(_.toInt) match {
                  case Array(y, m, d) =>
                    Some(java.time.LocalDate.of(sign * y, m, d).toEpochDay)
                  case _ => None
                }
              case _ => None
            }
            def bound(e: Expr): Option[(Long, Long)] = e match {
              case Binary(op, Id(q, n), rhs)
                  if n.equalsIgnoreCase(entry.keyCol) &&
                    q.forall(_.toLowerCase == aliasLc) =>
                litKey(rhs).filter(v =>
                  v != Long.MinValue && v != Long.MaxValue).flatMap { v =>
                  op match {
                    case "=" => Some((v, v))
                    case "<" => Some((Long.MinValue, v - 1))
                    case "<=" => Some((Long.MinValue, v))
                    case ">" => Some((v + 1, Long.MaxValue))
                    case ">=" => Some((v, Long.MaxValue))
                    case _ => None
                  }
                }
              case Binary(op, lit @ (_: IntLit | _: DateLit), id: Id) =>
                bound(Binary(flip(op), id, lit))
              case _ => None
            }
            val bs = conjuncts(where).flatMap(bound(_))
            if (bs.isEmpty) None
            else Some((bs.map(_._1).max, bs.map(_._2).min))
          }
          // among ALL indexes on this table whose key the WHERE
          // constrains, pick the one pinning the narrowest key range
          // (a point lookup beats a half-open range) — the reference's
          // access-path choice by estimated selectivity
          val candidates = idx.values.toSeq.filter { d =>
            d.table == tLc &&
              // ordered key types the index maps to Long: integers
              // (as-is) and DATE (epoch day, Indexes.keyToLong)
              t.fields.exists(f => f._1.equalsIgnoreCase(d.keyCol) &&
                (f._2.isInstanceOf[MInt] || f._2 == MDate))
          }
          candidates.flatMap(e => boundsFor(e).map(b => (e, b)))
            .sortBy { case (_, (lo, hi)) => BigInt(hi) - BigInt(lo) }
            .headOption
            .map { case (entry, (lo, hi)) =>
              val built = entry.built.getOrElse {
                val m =
                  if (entry.method == "rmi") graft.storage.Indexes.RmiMethod
                  else graft.storage.Indexes.ArrayMethod
                // a dialect table's rows are on the driver already: sort
                // them there instead of range-shuffling the DataFrame
                val b = t.rows match {
                  case Some(rows) =>
                    val schema = sparkSchema(t.fields)
                    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
                    graft.storage.Indexes.buildLocal(spark, schema,
                      rows.map(r => toRow(r).asInstanceOf[Row]), entry.keyCol, m)
                  case None => graft.storage.Indexes.build(t.df, entry.keyCol, m)
                }
                entry.built = Some(b)
                b
              }
              tLc -> built.rangeScan(lo, hi)
            }
        }
      } yield routed
    case _ => None
  }

  /** Plan a SELECT, routing the source through an index when one
    * applies. */
  private def planSelect(s: SelectStmt): DataFrame = indexRoute(s) match {
    case Some((tLc, idxDf)) =>
      val routed = new Planner(spark, n => {
        val ct = lookup(n)
        if (n.toLowerCase == tLc) ct.map(_.copy(df = idxDf)) else ct
      }, refParity)
      routed.plan(s)
    case None => planner.plan(s)
  }

  /** Type-check an expression against a bare column→type map (used for
    * CHECK constraints, where the only visible scope is the table being
    * created — ref Sema.cpp:1548). Mirrors the planner's typing rules
    * without needing a DataFrame. */
  private def inferType(e: Expr, cols: Map[String, MType], table: String): MType = {
    def go(e: Expr): MType = e match {
      case Id(qual, n) =>
        if (qual.exists(!_.equalsIgnoreCase(table)))
          throw new SemaError(s"unknown table '${qual.get}' in CHECK")
        cols.getOrElse(n.toLowerCase,
          throw new SemaError(s"unknown attribute '$n' in CHECK"))
      case IntLit(_) => MInt(8)
      case FloatLit(_, _) => MFloat(64)
      case StrLit(v) => MStr(v.length, varying = true)
      case BoolLit(_) => MBool
      case NullLit => MNull
      case DateLit(_) => MDate
      case DateTimeLit(_) => MDateTime
      case Unary("NOT", x) =>
        if (go(x) != MBool) throw new SemaError("NOT requires boolean"); MBool
      case Unary(_, x) =>
        val t = go(x)
        if (!t.isNumeric) throw new SemaError("unary +/-/~ requires numeric"); t
      case Binary(op, l, r) if Set("+", "-", "*", "/", "%").contains(op) =>
        MTypes.arithmeticJoin(go(l), go(r))
      case Binary("..", l, r) =>
        if (!go(l).isString || !go(r).isString)
          throw new SemaError("'..' requires string operands")
        MStr(Int.MaxValue, varying = false)
      case Binary(op, l, r) if Set("=", "!=", "<", "<=", ">", ">=").contains(op) =>
        if (!MTypes.comparable(go(l), go(r), op == "=" || op == "!="))
          throw new SemaError(s"cannot compare ${go(l)} with ${go(r)}")
        MBool
      case Binary(op, l, r) if op == "AND" || op == "OR" =>
        if (go(l) != MBool || go(r) != MBool)
          throw new SemaError(s"$op requires boolean operands")
        MBool
      case Like(l, p, _) =>
        if (!go(l).isString || !go(p).isString)
          throw new SemaError("LIKE requires string operands")
        MBool
      case FnCall(n, args, _) if n.equalsIgnoreCase("ISNULL") && args.size == 1 =>
        go(args.head); MBool
      case FnCall(n, args, _) if n.equalsIgnoreCase("INT") && args.size == 1 =>
        go(args.head); MInt(4)
      case other => throw new SemaError(s"invalid expression in CHECK: $other")
    }
    go(e)
  }

  /** Compile a CHECK expression to a Spark Column over the table's own
    * bare column names. */
  private def checkColumn(e: Expr, fields: Seq[(String, MType)]): Column = e match {
    case Id(_, n) => col(fields.find(_._1.equalsIgnoreCase(n)).get._1)
    case IntLit(v) => lit(v)
    case FloatLit(v, _) => lit(v)
    case StrLit(v) => lit(v)
    case BoolLit(v) => lit(v)
    case NullLit => lit(null)
    case Unary("NOT", x) => !checkColumn(x, fields)
    case Unary("-", x) => negate(checkColumn(x, fields))
    case Unary("+", x) => checkColumn(x, fields)
    case Unary("~", x) => bitwise_not(checkColumn(x, fields))
    case Binary(op, l, r) =>
      val (a, b) = (checkColumn(l, fields), checkColumn(r, fields))
      op match {
        case "+" => a + b; case "-" => a - b; case "*" => a * b
        case "/" => a / b; case "%" => a % b
        case "=" => a === b; case "!=" => a =!= b
        case "<" => a < b; case "<=" => a <= b
        case ">" => a > b; case ">=" => a >= b
        case "AND" => a && b; case "OR" => a || b
        case ".." => concat(a, b)
      }
    case Like(l, p, neg) =>
      val c = org.apache.spark.sql.GraftShim.like(
        checkColumn(l, fields), checkColumn(p, fields))
      if (neg) !c else c
    case FnCall(n, args, _) if n.equalsIgnoreCase("ISNULL") =>
      isnull(checkColumn(args.head, fields))
    case FnCall(n, args, _) if n.equalsIgnoreCase("INT") =>
      checkColumn(args.head, fields).cast("int")
    case other => throw new SemaError(s"invalid expression in CHECK: $other")
  }

  private def typeOf(t: TypeName): MType = t.name match {
    case "BOOL" => MBool
    case "INT" => MInt(t.args.head)
    case "FLOAT" => MFloat(32)
    case "DOUBLE" => MFloat(64)
    case "DECIMAL" =>
      val p = t.args.head
      if (p > 19) throw new SemaError("DECIMAL precision is capped at 19")
      MDecimal(p, t.args.lift(1).getOrElse(0))
    case "CHAR" => MStr(t.args.head, varying = false)
    case "VARCHAR" => MStr(t.args.head, varying = true)
    case "DATE" => MDate
    case "DATETIME" => MDateTime
    case other => throw new SemaError(s"unknown type $other")
  }

  /** Evaluate an INSERT literal to a JVM value of the target type. */
  private def literalValue(e: Expr, target: MType): Any = e match {
    case NullLit | DefaultLit => null
    case IntLit(v) => target match {
      case MInt(1) => v.toByte
      case MInt(2) => v.toShort
      case MInt(4) => v.toInt
      case MInt(_) => v
      case MFloat(32) => v.toFloat
      case MFloat(_) => v.toDouble
      case MDecimal(p, s) => new java.math.BigDecimal(v).setScale(s)
      case other => throw new SemaError(s"cannot insert integer into $other")
    }
    case FloatLit(v, _) => target match {
      case MFloat(32) => v.toFloat
      case MFloat(_) => v
      case MDecimal(p, s) =>
        new java.math.BigDecimal(v).setScale(s, java.math.RoundingMode.HALF_UP)
      case other => throw new SemaError(s"cannot insert float into $other")
    }
    case StrLit(v) => target match {
      case MStr(n, varying) =>
        if (v.length > n)
          throw new SemaError(s"string too long for ${if (varying) "VARCHAR" else "CHAR"}($n)")
        v
      case other => throw new SemaError(s"cannot insert string into $other")
    }
    case BoolLit(v) => target match {
      case MBool => v
      case other => throw new SemaError(s"cannot insert bool into $other")
    }
    // java.time values, NOT java.sql: Catalyst converts LocalDate/
    // Instant proleptically, so negative/ancient years survive INSERT
    // without the hybrid-calendar rebase java.sql.Date would get
    case DateLit(iso) => target match {
      case MDate =>
        val p = iso.trim
        val (sign, rest) = if (p.startsWith("-")) (-1, p.drop(1)) else (1, p)
        val Array(y, m, d) = rest.split("-").map(_.toInt)
        java.time.LocalDate.of(sign * y, m, d)
      case other => throw new SemaError(s"cannot insert date into $other")
    }
    case DateTimeLit(iso) => target match {
      case MDateTime =>
        val parts = iso.trim.split("[ ]+")
        val dp = parts(0)
        val (sign, rest) = if (dp.startsWith("-")) (-1, dp.drop(1)) else (1, dp)
        val Array(y, m, d) = rest.split("-").map(_.toInt)
        val Array(hh, mi, ss) = parts(1).split(":").map(_.toInt)
        java.time.LocalDateTime
          .of(sign * y, m, d, hh, mi, ss).toInstant(java.time.ZoneOffset.UTC)
      case other => throw new SemaError(s"cannot insert datetime into $other")
    }
    case Unary("-", x) => literalValue(x, target) match {
      case v: Byte => (-v).toByte
      case v: Short => (-v).toShort
      case v: Int => -v
      case v: Long => -v
      case v: Float => -v
      case v: Double => -v
      case v: java.math.BigDecimal => v.negate()
      case other => throw new SemaError(s"cannot negate $other")
    }
    case other =>
      throw new SemaError(s"INSERT values must be literals, got $other")
  }
}

object EngineSession {
  /** A catalog table. `rows` is the driver-resident store of a table
    * made by CREATE TABLE (`df` is its LocalRelation); it is None for a
    * table added by `registerExternal`, whose rows live only in `df`. */
  final case class TableDef(
      name: String,
      fields: Seq[(String, MType)],
      constraints: Map[String, Seq[Ast.Constraint]],
      var df: DataFrame,
      var rows: Option[Vector[InternalRow]])

  /** A named index: definition from CREATE INDEX plus the lazily
    * bulkloaded structure (None until first use / after
    * invalidation). */
  final case class IndexDef(
      name: String,
      table: String,
      keyCol: String,
      method: String,
      var built: Option[graft.storage.Indexes.DistributedIndex] = None)

  /** Session preloaded with the driver testdata as external tables in
    * database `testdata`. */
  def withTestdata(spark: SparkSession, dir: String): EngineSession = {
    val s = new EngineSession(spark)
    s.execute("CREATE DATABASE testdata; USE testdata;")
    Engine.tableNames.foreach(n => s.registerExternal(n, Engine.table(spark, dir, n)))
    s
  }
}
