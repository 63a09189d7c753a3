package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, IntegerType}

/**
 * Column-builder library: every scalar helper the reference implements as a
 * Python `.apply()` UDF, re-expressed as a pure tree of built-in Spark
 * expressions (SURVEY.md §2.8, §2.12). No Scala UDFs anywhere — every
 * function here stays inside whole-stage codegen, which is what makes the
 * same tree viable at 100 TB.
 */
object Exprs {

  // ---------------------------------------------------------------- nulls

  /**
   * Unified blank test (SURVEY.md §7.4 risk 4): pandas treats NaN, 'nan',
   * '' and None differently (app_confirmaciones.py:215-216); we collapse
   * them into one predicate used everywhere.
   */
  def isBlank(c: Column): Column =
    c.isNull || trim(c.cast("string")) === "" ||
      lower(trim(c.cast("string"))).isin("nan", "none", "nat", "null")

  // ---------------------------------------------------------- excel serial

  /**
   * Excel serial number → date, with the 1900-leap-year-bug adjustment
   * (`if numero >= 61: numero -= 1`,
   * indicador-modelo-vs-facturacion.py:92-109). Epoch 1899-12-30.
   */
  def excelSerialToDate(n: Column): Column = {
    val adj = when(n >= 61, n - 1).otherwise(n).cast(IntegerType)
    date_add(to_date(lit("1899-12-30")), adj)
  }

  /**
   * Excel fractional-day time (0..1) → minutes since midnight
   * (app_confirmaciones.py:121-139).
   */
  def excelFractionToMinutes(x: Column): Column =
    round(x * 24 * 60).cast(LongType)

  /** Minutes since midnight → 'HH:MM' string (app_confirmaciones.py:131-139).
   * Null propagates: format_string would otherwise render a null %d
   * argument as the literal text "null:null". */
  def minutesToHHMM(m: Column): Column =
    when(m.isNull, lit(null).cast("string")).otherwise(
      format_string("%02d:%02d", (m / 60).cast(IntegerType), (m % 60).cast(IntegerType)))

  // ---------------------------------------------------------- time helpers

  /**
   * Round a timestamp UP to the next 5-minute boundary
   * (`((m+4)//5)*5`, app_calculador_recursos_modelo_atencion.py:105-122):
   * `ceil(epoch/300)*300`.
   */
  def round5MinUp(ts: Column): Column =
    timestamp_seconds(ceil(unix_timestamp(ts) / 300) * 300)

  /**
   * Number of days in `d`'s month that share `d`'s weekday — closed form,
   * no calendar join (`contar_dias_mes`,
   * app_calculador_recursos_modelo_atencion.py:138-155):
   * floor((dom-1)/7) + floor((daysInMonth-dom)/7) + 1.
   */
  def sameWeekdayCountInMonth(d: Column): Column = {
    val dom = dayofmonth(d)
    val dim = dayofmonth(last_day(d))
    floor((dom - 1) / 7) + floor((dim - dom) / 7) + 1
  }

  /** Week-of-month `(day-1)//7+1`
   * (app_calculo_necesidad_recepción_call_center.py:601). */
  def weekOfMonth(d: Column): Column =
    (floor((dayofmonth(d) - 1) / 7) + 1).cast(IntegerType)

  /** `hh:mm:ss` duration string → minutes (double)
   * (app_indicadores_modelo_atencion.py:736-750). */
  def durationToMinutes(s: Column): Column = {
    val p = split(s, ":")
    p.getItem(0).cast("double") * 60 + p.getItem(1).cast("double") +
      p.getItem(2).cast("double") / 60
  }

  // --------------------------------------------------------------- spanish

  private val esMonths = Seq(
    1 -> "enero", 2 -> "febrero", 3 -> "marzo", 4 -> "abril", 5 -> "mayo",
    6 -> "junio", 7 -> "julio", 8 -> "agosto", 9 -> "septiembre",
    10 -> "octubre", 11 -> "noviembre", 12 -> "diciembre")

  private val esDays = Seq(
    1 -> "domingo", 2 -> "lunes", 3 -> "martes", 4 -> "miércoles",
    5 -> "jueves", 6 -> "viernes", 7 -> "sábado") // Spark dayofweek: 1=Sun

  /** Spanish month name, explicit CASE ladder — deterministic across JVMs,
   * no locale dependence (app_confirmaciones.py:62-117, SURVEY.md §7.4-3). */
  def spanishMonthName(d: Column): Column =
    esMonths.foldLeft(lit(null).cast("string")) { case (acc, (m, name)) =>
      when(month(d) === m, name).otherwise(acc)
    }

  /** Spanish weekday name (`traducir_dia`,
   * app_calculo_necesidad_recepción_call_center.py:71-81). */
  def spanishDayName(d: Column): Column =
    esDays.foldLeft(lit(null).cast("string")) { case (acc, (n, name)) =>
      when(dayofweek(d) === n, name).otherwise(acc)
    }

  /** Weekday ordering key with Monday first (Lunes..Domingo categorical,
   * app_calculo_necesidad_recepción_call_center.py:263-266). */
  def weekdayMondayFirst(d: Column): Column =
    ((dayofweek(d) + 5) % 7) + 1 // Mon=1 .. Sun=7

  /**
   * Accent folding + uppercase + whitespace collapse (`normalizar_texto`,
   * indicador-modelo-vs-facturacion.py:131-138).
   */
  def normalizeEs(c: Column): Column =
    regexp_replace(trim(translate(upper(c), "ÁÉÍÓÚÑÜ", "AEIOUNU")), "\\s+", " ")

  /** "5 de mayo de 2024"-style rendering (`formato_fecha_espanol`,
   * app_confirmaciones.py:104-119). */
  def formatoFechaEspanol(d: Column): Column =
    concat_ws(" ", spanishDayName(d), dayofmonth(d).cast("string"),
      lit("de"), spanishMonthName(d), lit("de"), year(d).cast("string"))

  // ----------------------------------------------------------------- phone

  /**
   * Phone normalization truth table (app_confirmaciones.py:213-224):
   * strip a trailing `.0` (float-read artifact), keep digits; 10-digit
   * mobile starting with 3 gets +57; already-prefixed 57… kept; else as-is.
   */
  def normalizePhone(c: Column): Column = {
    val digits = regexp_replace(stripTrailingDotZero(c), "[^0-9]", "")
    when(isBlank(c), lit(null).cast("string"))
      .when(length(digits) === 10 && digits.startsWith("3"), concat(lit("+57"), digits))
      .when(length(digits) === 12 && digits.startsWith("57"), concat(lit("+"), digits))
      .otherwise(digits)
  }

  // ------------------------------------------------------- robust parsing

  /**
   * Multi-format lenient timestamp parse: try each format, first success
   * wins, else null (`parse_datetime_robust`, app_confirmaciones.py:45-56).
   */
  def parseTimestampRobust(c: Column, formats: Seq[String]): Column =
    coalesce(formats.map(f => try_to_timestamp(c, lit(f))): _*)

  /** Default format ladder used by the reference (6 date × common times). */
  def parseTimestampDefault(c: Column): Column =
    parseTimestampRobust(c, Seq(
      "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm", "yyyy-MM-dd",
      "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy",
      "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy"))

  /** Spanish long-form date "5 de mayo de 2024" → date
   * (`parse_spanish_date`, app_confirmaciones.py:62-102). */
  def parseSpanishDate(c: Column): Column = {
    val lowered = lower(trim(c))
    // strip an optional leading weekday name ("lunes, 5 de mayo de 2024")
    val noDay = regexp_replace(lowered,
      "^(lunes|martes|mi[eé]rcoles|jueves|viernes|s[aá]bado|domingo)[,\\s]+", "")
    val numericMonth = esMonths.foldLeft(noDay) { case (acc, (m, name)) =>
      regexp_replace(acc, s"de\\s+$name\\s+de", s"de $m de")
    }
    try_to_date(numericMonth, "d 'de' M 'de' yyyy")
  }

  // ----------------------------------------------------------------- misc

  /** `max(0, x)` clamp (app_calculo_necesidad_recepción_call_center.py:800). */
  def clampNonNeg(c: Column): Column = greatest(lit(0.0), c)

  /** Strip trailing `.0` from stringified numerics
   * (app_confirmaciones.py:224). */
  def stripTrailingDotZero(c: Column): Column =
    regexp_replace(c.cast("string"), "\\.0$", "")

  /** Row-wise min of positive values only
   * (app_indicadores_modelo_atencion.py:229-247):
   * `array_min(filter(array(cols), _ > 0))`. */
  def minPositive(cols: Column*): Column =
    array_min(filter(array(cols: _*), x => x > 0))

  /** Deterministic 60-bit hash of a string via md5 prefix — chosen over
   * xxhash64 because the DuckDB oracle can reproduce it exactly:
   * `('0x'||substr(md5(x),1,15))::BIGINT`. Implemented as the native
   * [[graft.functions.Md5PrefixLong]] expression (byte-level, codegen'd);
   * the built-in spelling `conv(substring(md5(c),1,15),16,10)` is
   * bit-identical but allocates two strings per call. */
  def md5Long(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      graft.functions.Md5PrefixLong(ColumnBridge.expression(c.cast("string"))))
  }

  /** The DuckDB spelling of [[md5Long]] as a format string (`%s` = the
    * hashed expression) — the canonical oracle-side hash contract; new
    * query files interpolate it instead of restating it. (Older oracles
    * across Analytics/Curation/Lake/Olap/Scale/TextQueries predate the
    * template and restate the spelling inline — ~19 sites, frozen
    * safely by the per-round 200-query verify gate, which fails loudly
    * on any drift. If the contract ever changes, update the template
    * AND grep for `substr(md5` across queries/.) */
  val md5LongSql: String =
    "('0x'||substr(md5(CAST(%s AS VARCHAR)),1,15))::BIGINT"
}
