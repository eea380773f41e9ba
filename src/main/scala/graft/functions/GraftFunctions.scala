package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Impala-dialect function pack.
  *
  * The reference's builtin catalog is 275 signatures registered in
  * `fe/src/main/java/com/cloudera/impala/catalog/BuiltinsDb.java` and
  * `common/function-registry/impala_functions.py:55-489`. Most are 1:1 with
  * `org.apache.spark.sql.functions`; this object registers the names Spark
  * lacks, each as a *builder of stock Catalyst expressions* (or our own
  * codegen'd expressions) so nothing here leaves whole-stage codegen.
  *
  * Registration is idempotent and works both via [[graft.GraftExtensions]]
  * (sessions we build) and [[register]] (sessions built by an external
  * harness).
  */
object GraftFunctions {

  private[graft] def toCol(e: Expression): Column = ColumnBridge.column(e)
  private[graft] def toExpr(c: Column): Expression = ColumnBridge.expression(c)

  /** name -> Catalyst expression builder (arity-checked at build time). */
  val injections: Seq[(String, FunctionBuilder)] = Seq(
    // --- utility (be/src/exprs/utility-functions.cc) ---
    "fnv_hash" -> ((args: Seq[Expression]) => FnvHashExpression(args.head)),
    // user()/effective_user(): the session's authenticated principal —
    // CurrentUser resolves via the ReplaceCurrentLike rule to the session
    // user, the Spark analogue of the reference's connected-user lookup.
    "user" -> ((_: Seq[Expression]) => CurrentUser()),
    "effective_user" -> ((_: Seq[Expression]) => CurrentUser()),
    // version(): engine build string (reference returns the impalad build).
    "version" -> ((_: Seq[Expression]) =>
      Literal(s"graft (spark ${org.apache.spark.SPARK_VERSION})")),
    // pid(): the driver JVM's pid — the analogue of the coordinator pid.
    "pid" -> ((_: Seq[Expression]) =>
      Literal(ProcessHandle.current().pid().toInt)),
    "sleep" -> ((args: Seq[Expression]) =>
      Sleep(Cast(args.head, LongType))),

    // --- string aliases (impala_functions.py:149-212) ---
    "strleft" -> ((args: Seq[Expression]) => Left(args(0), args(1))),
    "strright" -> ((args: Seq[Expression]) => Right(args(0), args(1))),

    // --- conditional (be/src/exprs/conditional-functions.cc) ---
    // Impala's isnull(a,b) is 2-ary ifnull; Spark's isnull(a) is the unary
    // predicate — support both arities under one name.
    "isnull" -> ((args: Seq[Expression]) =>
      if (args.length == 1) IsNull(args.head) else Coalesce(args)),
    "zeroifnull" -> ((args: Seq[Expression]) =>
      Coalesce(Seq(args.head, Cast(Literal(0), args.head.dataType)))),
    "nullifzero" -> ((args: Seq[Expression]) =>
      If(EqualTo(args.head, Cast(Literal(0), args.head.dataType)),
         Literal.create(null, args.head.dataType), args.head)),

    // --- math (impala_functions.py:56-147) ---
    "quotient" -> ((args: Seq[Expression]) =>
      IntegralDivide(Cast(args(0), LongType), Cast(args(1), LongType))),
    "fmod" -> ((args: Seq[Expression]) => Remainder(args(0), args(1))),
    "is_inf" -> ((args: Seq[Expression]) =>
      EqualTo(Abs(Cast(args.head, DoubleType)), Literal(Double.PositiveInfinity))),
    "is_nan" -> ((args: Seq[Expression]) => IsNaN(args.head)),

    // --- timestamp (be/src/exprs/timestamp-functions.cc) ---
    "dayname" -> ((args: Seq[Expression]) =>
      DateFormatClass(args.head, Literal("EEEE"))),

    // --- decimal fns (be/src/exprs/decimal-functions.cc,
    //     impala_functions.py:467-488) ---
    // precision/scale are plan-time constants of the argument's type.
    "precision" -> ((args: Seq[Expression]) => args.head.dataType match {
      case d: DecimalType => Literal(d.precision)
      case _ => Literal(38)
    }),
    "scale" -> ((args: Seq[Expression]) => args.head.dataType match {
      case d: DecimalType => Literal(d.scale)
      case _ => Literal(0)
    }),
    // truncate(x[, s]): toward zero — floor for positives, ceil for
    // negatives (Impala truncates, it never rounds).
    "truncate" -> ((args: Seq[Expression]) => {
      val x = args.head
      val s = if (args.length > 1) args(1) else Literal(0)
      If(GreaterThanOrEqual(x, Literal(0)), RoundFloor(x, s), RoundCeil(x, s))
    }),

    // --- timestamp interval family (impala_functions.py:239-355:
    //     years/months/weeks/days/hours/minutes/seconds/
    //     milliseconds/microseconds _add/_sub) ---
    "years_add" -> tsAdd("YEAR"), "years_sub" -> tsSub("YEAR"),
    "months_add" -> tsAdd("MONTH"), "months_sub" -> tsSub("MONTH"),
    "weeks_add" -> tsAdd("WEEK"), "weeks_sub" -> tsSub("WEEK"),
    "days_add" -> tsAdd("DAY"), "days_sub" -> tsSub("DAY"),
    "hours_add" -> tsAdd("HOUR"), "hours_sub" -> tsSub("HOUR"),
    "minutes_add" -> tsAdd("MINUTE"), "minutes_sub" -> tsSub("MINUTE"),
    "seconds_add" -> tsAdd("SECOND"), "seconds_sub" -> tsSub("SECOND"),
    "milliseconds_add" -> tsAdd("MILLISECOND"),
    "milliseconds_sub" -> tsSub("MILLISECOND"),
    "microseconds_add" -> tsAdd("MICROSECOND"),
    "microseconds_sub" -> tsSub("MICROSECOND"),
    "adddate" -> tsAdd("DAY"), "subdate" -> tsSub("DAY"),

    // trunc(ts, unit) with Impala unit spellings → date_trunc
    // (timestamp-functions.cc: SY/YYYY/YEAR/SM/MM/MONTH/DD/DAY/HH/MI).
    // trunc unit table is the reference's StrToTruncUnit verbatim
    // (be/src/exprs/udf-builtins.cc:112-135): DAY/DY/D is previous-MONDAY
    // (TruncDayOfWeek) — Spark's WEEK; DDD/DD/J is midnight; WW/W go back
    // to the weekday of the year's/month's first day (TruncWW/TruncW).
    "trunc" -> ((args: Seq[Expression]) => {
      val ts = args.head
      // back to `anchor`'s day-of-week, at midnight of ts's date
      def toWeekdayOf(anchor: Expression): Expression = {
        val day = TruncTimestamp(Literal("DAY"), ts)
        val delta = Pmod(Subtract(DayOfWeek(day), DayOfWeek(anchor)),
          Literal(7))
        Cast(DateSub(Cast(day, DateType), delta), TimestampType)
      }
      args(1) match {
        case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
          u.toString.toUpperCase match {
            case "SYYYY" | "YYYY" | "YEAR" | "SYEAR" | "YYY" | "YY" | "Y" =>
              TruncTimestamp(Literal("YEAR"), ts)
            case "Q" => TruncTimestamp(Literal("QUARTER"), ts)
            case "MONTH" | "MON" | "MM" | "RM" =>
              TruncTimestamp(Literal("MONTH"), ts)
            case "WW" => toWeekdayOf(TruncTimestamp(Literal("YEAR"), ts))
            case "W" => toWeekdayOf(TruncTimestamp(Literal("MONTH"), ts))
            case "DDD" | "DD" | "J" => TruncTimestamp(Literal("DAY"), ts)
            case "DAY" | "DY" | "D" => TruncTimestamp(Literal("WEEK"), ts)
            case "HH" | "HH12" | "HH24" => TruncTimestamp(Literal("HOUR"), ts)
            case "MI" => TruncTimestamp(Literal("MINUTE"), ts)
            case other => throw new IllegalArgumentException(
              s"trunc: invalid unit '$other' (reference StrToTruncUnit)")
          }
        case _ => throw new IllegalArgumentException(
          "trunc(ts, unit) requires a literal unit")
      }
    }),

    // --- aggregates (BuiltinsDb.java:241-272): ndv = HLL estimate;
    //     distinctpc/pcsa = Flajolet-Martin; group_concat exact ---
    "ndv" -> ((args: Seq[Expression]) =>
      HyperLogLogPlusPlus(args.head).toAggregateExpression()),
    "distinctpc" -> ((args: Seq[Expression]) =>
      DistinctPc(args.head).toAggregateExpression()),
    "distinctpcsa" -> ((args: Seq[Expression]) =>
      DistinctPcsa(args.head).toAggregateExpression()),
    "group_concat" -> ((args: Seq[Expression]) =>
      GroupConcat(args.head,
        if (args.length > 1) args(1) else Literal(", ")).toAggregateExpression()),
    // Impala's variance/stddev long names (aggregate-functions.cc:564-612;
    // Spark spells them var_pop/var_samp/stddev_* — same math).
    "variance_pop" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate
        .VariancePop(args.head).toAggregateExpression()),
    "variance_samp" -> ((args: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.aggregate
        .VarianceSamp(args.head).toAggregateExpression())
  )

  private def tsAdd(unit: String): FunctionBuilder =
    (args: Seq[Expression]) => TimestampAdd(unit, args(1), args(0))
  private def tsSub(unit: String): FunctionBuilder =
    (args: Seq[Expression]) => TimestampAdd(unit, UnaryMinus(args(1)), args(0))

  /** Injection names that shadow a Spark built-in with different semantics
    * (e.g. Impala `trunc(ts, unit)` → TIMESTAMP vs Spark `trunc(date, fmt)`
    * → DATE; 2-ary `isnull`; full-name `dayname`). Computed against Spark's
    * builtin registry so it tracks Spark versions. */
  lazy val shadowsBuiltin: Set[String] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    injections.map(_._1)
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
      .toSet
  }

  /** Idempotent per-session registration (for externally built sessions):
    * dialect functions + the custom planner strategies that
    * [[graft.GraftExtensions]] would otherwise inject at build time.
    *
    * In a shared session we do NOT replace Spark built-ins by default —
    * changing `trunc`/`isnull` behavior for unrelated SQL in a session we
    * don't own is a trap. Shadowed names stay reachable as `impala_<name>`;
    * pass `overrideBuiltins = true` (Engine-owned dialect sessions) to get
    * full Impala name parity. */
  def register(spark: SparkSession, overrideBuiltins: Boolean = false): Unit = {
    val reg = spark.sessionState.functionRegistry
    injections.foreach { case (name, builder) =>
      if (overrideBuiltins || !shadowsBuiltin(name))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
      if (shadowsBuiltin(name))
        reg.createOrReplaceTempFunction("impala_" + name, builder, "scala_udf")
    }
    if (!overrideBuiltins && shadowsBuiltin.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        "graft: Impala-dialect names shadowing Spark built-ins kept at Spark " +
        "semantics; use the impala_ prefix for Impala semantics: " +
        shadowsBuiltin.toSeq.sorted.mkString(", "))
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(graft.plans.TopKPerGroupStrategy)) {
      spark.experimental.extraStrategies =
        strategies :+ graft.plans.TopKPerGroupStrategy
    }
    // The broadcast-safety rule must hold in sessions we did NOT build
    // (one passed to `SparkEntry.entry` by its caller): extensions can only be
    // attached at builder time, but ExperimentalMethods rules run as the
    // optimizer's final batch — still before physical planning, which is
    // all the hint stamping needs. In Engine-built sessions the preCBO copy
    // stamps first and this one no-ops (the rule skips sides that already
    // carry a strategy hint). CorpusBroadcastGuardSpec pins it.
    val extraOpts = spark.experimental.extraOptimizations
    if (!extraOpts.contains(graft.plans.CorpusBroadcastGuard)) {
      spark.experimental.extraOptimizations =
        extraOpts :+ graft.plans.CorpusBroadcastGuard
    }
  }

  // ---- Column-level API (usable without any registration) ----
  def fnv_hash(c: Column): Column = FnvHash(c)
  def is_inf(c: Column): Column =
    toCol(EqualTo(Abs(Cast(toExpr(c), DoubleType)), Literal(Double.PositiveInfinity)))
  def strleft(c: Column, n: Column): Column = toCol(Left(toExpr(c), toExpr(n)))
  def strright(c: Column, n: Column): Column = toCol(Right(toExpr(c), toExpr(n)))
  def zeroifnull(c: Column): Column = {
    val e = toExpr(c)
    toCol(Coalesce(Seq(e, Cast(Literal(0), e.dataType))))
  }
  def nullifzero(c: Column): Column = {
    val e = toExpr(c)
    toCol(If(EqualTo(e, Cast(Literal(0), e.dataType)), Literal.create(null, e.dataType), e))
  }
}
