package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** R1-R13: the scalar/regex extraction layer — the heart of the
  * reference engine (`main.py:112-182, 384-393`). Every function is
  * a pure `Column` expression (codegen'd, no UDFs), so the whole
  * layer collapses into one whole-stage-codegen'd projection.
  *
  * Semantics deliberately preserved from the reference:
  *  - all extracts are case-insensitive (pandas `flags=re.I` →
  *    `(?i)` inline flag);
  *  - `regexp_extract` returns `''` on no-match where pandas
  *    returns NaN — every extract is normalized `''` → null so
  *    downstream fill/filter logic (P5, F4, R12) sees real nulls;
  *  - concat is null-propagating (R8): pandas `NaN + str = NaN`
  *    matches Spark `concat` (NOT `concat_ws`, which skips nulls);
  *  - numeric coercion is `errors='coerce'` (R13): unparseable →
  *    null, via `try_cast` (ANSI-safe).
  */
object Extract {

  /** Empty-string extract → null (pandas NaN parity). */
  def nullIfEmpty(c: Column): Column = when(c === "", lit(null)).otherwise(c)

  /** Case-insensitive first-group extract, '' normalized to null. */
  def extractOpt(c: Column, pattern: String): Column =
    nullIfEmpty(regexp_extract(c, s"(?i)$pattern", 1))

  // --- POS-item extraction (reference patterns, main.py:112-138) ---

  /** R1: size token (`main.py:112-113`). */
  def size(item: Column): Column =
    initcap(extractOpt(item, "(solo|duo|medio|familia)"))

  /** R2: hot/cold variation (`main.py:116-118`). */
  def variation(item: Column): Column =
    initcap(extractOpt(item, "(hot|cold)"))

  /** R3: flavor, only for Fries/Lemonade items (`main.py:121-125`). */
  def flavor(item: Column): Column =
    when(item.rlike("(?i)(fries|lemonade)"),
      initcap(extractOpt(item, "(cheese|bbq|sour cream|plain|mango)")))

  /** R4: sugar level, title-cased like the reference's
    * `.str.title()` — `initcap` coincides on this closed vocabulary
    * (`main.py:128-130`).
    */
  def sugarLevel(item: Column): Column =
    initcap(extractOpt(item, "(sugar 20%|sugar 50%|sugar 75%|sugar 100%)"))

  /** R5: spice level — escaped parens, title-cased (`main.py:133-135`). */
  def spiceLevel(item: Column): Column =
    initcap(extractOpt(item, "(mild \\(1/4\\)|regular \\(2/4\\)|spicy \\(3/4\\))"))

  /** R6: quantity `x<digits>`, default 1.0 (`main.py:138`). The
    * reference's extract has NO re.I flag — lowercase `x` only
    * ('Pizza X2' keeps quantity 1.0), unlike every other extract.
    */
  def quantity(item: Column): Column =
    coalesce(
      nullIfEmpty(regexp_extract(item, "x\\s*(\\d+)", 1)).cast("double"),
      lit(1.0))

  // --- R7: masked two-part pastry rename (main.py:140-165) ---

  /** Items subject to the pastry rename. */
  def isPastry(item: Column): Column =
    item.rlike("(?i)(croissant|croffle|cookies|cookie)")

  /** The reference's exact 18-entry flavor vocabulary
    * (`main.py:146-153`), order preserved — the alternation order is
    * load-bearing (specificity-first: 'Chip and Chunk Walnut' must
    * win over 'Chip and Chunk' at the same match position).
    */
  val pastryFlavorList: Seq[String] = Seq(
    "Chip and Chunk Walnut", "Nutella Pecan Cookie", "Red Velvet Cookie",
    "Smores Cookie", "Almond Nutella", "Biscoff Cookie", "Strawberry Cream",
    "Spam and Egg", "Chip and Chunk", "Biscoff", "Caramel", "Chocolate",
    "Matcha", "Oreo", "Plain", "Smores", "Red Velvet", "Dubai")

  private val pastryFlavors =
    pastryFlavorList.map(java.util.regex.Pattern.quote).mkString("(", "|", ")")

  /** Flavor part (`main.py:155-161`): case-insensitive extract that
    * keeps the ORIGINAL matched casing (pandas `str.extract` parity —
    * no title-casing here; the final Items title-case happens after
    * the category map), then strips every `\s*Cookie` occurrence
    * (pandas `str.replace` is global) and trims.
    */
  def pastryFlavor(item: Column): Column =
    trim(nullIfEmpty(regexp_replace(
      regexp_extract(item, s"(?i)$pastryFlavors", 1),
      "(?i)\\s*cookie", "")))

  /** Category word, canonicalized Cookie→Cookies (`main.py:163-165`). */
  def pastryCategory(item: Column): Column = {
    val cat = initcap(extractOpt(item, "(croissant|croffle|cookies|cookie)"))
    when(cat === "Cookie", lit("Cookies")).otherwise(cat)
  }

  /** R8: null-propagating concat `Category - Flavor` (`main.py:167-169`). */
  def pastryName(item: Column): Column =
    concat(pastryCategory(item), lit(" - "), pastryFlavor(item))

  /** R9: non-target cleanup — strip `x<qty>` suffix (case-SENSITIVE,
    * like the reference's unflagged replace) and any parenthetical,
    * trim (`main.py:171-175`).
    */
  def cleanupItem(item: Column): Column =
    trim(regexp_replace(
      regexp_replace(item, "x\\s*\\d+", ""),
      "\\s*\\(.*\\)", ""))

  /** R10: the reference's literal corrections dict (`main.py:177-182`).
    * pandas `Series.replace(dict)` without regex replaces EXACT full
    * values only, each value looked up once in the ORIGINAL series
    * (`{a→b, b→c}` maps `a` to `b`, not on to `c`) — so this is one
    * exact-match CASE over the input, one branch per entry, the input
    * itself as the ELSE. Small static map (no join needed at this
    * cardinality).
    */
  val corrections: Map[String, String] =
    Map("Fruit Lemonade w/Popping Pearls" -> "Fruit Lemonade w/ Popping Pearls")

  def applyCorrections(c: Column, map: Map[String, String] = corrections): Column =
    map.toSeq match {
      case Seq() => c
      case (from, to) +: rest =>
        rest.foldLeft(when(c === from, lit(to))) { case (cases, (f, t)) =>
          cases.when(c === f, lit(t))
        }.otherwise(c)
    }

  /** Clean item name: pastry rename where masked, else cleanup
    * (`main.py:143-175` combined), then corrections.
    */
  def cleanItem(item: Column): Column =
    applyCorrections(
      when(isPastry(item), pastryName(item)).otherwise(cleanupItem(item)))

  /** Exact pandas `str.title()` semantics (`main.py:385`): a letter
    * is uppercased iff it follows a non-letter ("w/ popping" →
    * "W/ Popping", "bbq" → "Bbq"), unlike `initcap` which splits on
    * whitespace only and lowercases the rest. Pure Column
    * expression, no UDF: zero-width split at every letter/non-letter
    * boundary keeps the delimiters as tokens; ucfirst+lower of each
    * token is exactly per-word title-casing.
    */
  def pandasTitle(c: Column): Column =
    array_join(
      transform(
        split(c, "(?<=[^A-Za-z])(?=[A-Za-z])|(?<=[A-Za-z])(?=[^A-Za-z])"),
        t => concat(upper(substring(t, 1, 1)), lower(substring(t, 2, 1000000)))),
      "")

  // R12: 'nan' filter is a null check in our model (main.py:384) —
  // we never materialize 'nan' strings; see Validate.notNan.

  /** R13: thousand-separator strip + safe numeric cast
    * (`main.py:389-393`, `'1,192.00'` → 1192.00; unparseable →
    * null). `try_cast` keeps ANSI mode happy (Spark 4 default).
    */
  def toNumber(c: Column): Column =
    try_cast(regexp_replace(c.cast("string"), ",", ""), "double")

  /** ANSI-safe cast helper (errors='coerce' parity). */
  def try_cast(c: Column, to: String): Column =
    c.try_cast(to)
}
