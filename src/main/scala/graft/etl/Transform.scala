package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** E2: the reference's core transform (`main.py:95-407`) as one
  * declarative Catalyst plan — header strip → split/explode/filter →
  * regex extraction layer → clean-item rename → categorical
  * broadcast join → payment derivation → projection/rename →
  * numeric coercion → validation split.
  *
  * Every extract (R1–R10) and the M1+M2 category lookup is a pure
  * function of the item string, and item strings are bounded by the
  * menu, not by sales (587 distinct strings in a 35k-line drop). So
  * the plan evaluates them once per DISTINCT item and broadcast-joins
  * the result back to the exploded lines: the per-line side is only
  * the scan, the explode and the amount/payment projections. The one
  * shuffle is the distinct-item aggregate, map-side combined to a
  * few dozen KB (one row per item per map task); the dim join and
  * the join back both broadcast.
  *
  * Divergences from the reference, by design (SURVEY.md §2.7):
  *  - validation runs BEFORE the 'Uncategorized' fill, so
  *    unmappable items quarantine (the README.md:117-119 reprocess
  *    story) instead of being masked by the fill;
  *  - the footer drop is predicate-based upstream (Pos synthesizes
  *    no footer).
  */
object Transform {

  /** The reference's real product dimension (M1+M2 folded, keyed on
    * exact clean-item strings — see [[Categorize.referenceDim]]).
    */
  def dimDF(spark: SparkSession): DataFrame = Categorize.referenceDimDF(spark)

  /** The raw-sheet input contract (post-header-strip names): exactly
    * the columns `transform` consumes. Enforced strictly at entry so
    * schema drift fails with a contract error naming the missing
    * columns, not a deep unresolved-attribute analysis error.
    */
  val rawContract: Seq[String] = Seq(
    "Order ID", "Products", "Product amount", "Received amount",
    "Payment time", "Cash", "Gcash", "Type/Channel")

  /** Raw POS frame → item-level fact frame (pre-validation).
    *
    * The dim join is on the EXACT `clean_item` string, pre-title-case
    * — precisely the reference's `Clean_Item.map(dict)` at
    * `main.py:356`, which runs before the `str.title()` at
    * `main.py:385` (so "Biscoff tiramisu" maps, then displays
    * title-cased).
    */
  def transform(raw: DataFrame, dim: DataFrame): DataFrame = {
    // P1 then P3 (strict): enforce + prune to the contract columns,
    // so the scan reads only what the pipeline consumes.
    val stripped = Sanitize.project(Sanitize.stripHeaders(raw), rawContract)
    val exploded = ExplodeItems.explodeItems(stripped, "Products", "item")
    // One row per distinct item, its extracts computed by the
    // aggregate itself over `min(item)` (= the item): they are
    // aggregate OUTPUTS, so a predicate over them (R12's clean_item
    // filter) can neither sink below the aggregate nor be inferred
    // onto the per-line side through the join on `item` — either
    // would re-run the clean-item chain once per line. PlanQualitySpec
    // pins the chain to this one node.
    val it = min("item")
    val perItem = exploded.groupBy("item").agg(
      Extract.size(it).as("size"),
      Extract.variation(it).as("variation"),
      Extract.flavor(it).as("flavor"),
      Extract.sugarLevel(it).as("sugar_level"),
      Extract.spiceLevel(it).as("spice_level"),
      Extract.quantity(it).as("quantity"),
      Extract.cleanItem(it).as("clean_item"))
    val attrs = Categorize.withCategories(perItem, dim, "clean_item")
      .filter(col("clean_item").isNotNull) // R12 (null-model form)
      .select(
        col("item"),
        initcap(col("clean_item")).as("items"), // R11
        col("sub_category"), col("category"),
        col("flavor"), col("variation"), col("size"),
        col("quantity"),
        col("sugar_level"), col("spice_level"))
    // inner join: a line whose item has no clean name is R12-dropped
    exploded.join(broadcast(attrs), Seq("item"))
      .select(
        col("Order ID").as("order_id"),
        col("items"),
        col("sub_category"), col("category"),
        col("flavor"), col("variation"), col("size"),
        col("quantity"),
        col("sugar_level"), col("spice_level"),
        Extract.toNumber(col("Product amount")).as("total_order_amount"), // R13+P4
        Extract.toNumber(col("Received amount")).as("received_amount"),
        col("Payment time").as("payment_time"),
        PaymentType.paymentType(col("Cash"), col("Gcash")).as("payment_type"), // U1
        col("Type/Channel").as("order_type")) // P4
  }

  final case class FactSplit(clean: DataFrame, quarantine: DataFrame)

  /** F5 validity over the fact-frame contract columns. */
  def factValidity: org.apache.spark.sql.Column =
    Validate.validExpr(
      items = col("items"), subCategory = col("sub_category"),
      category = col("category"), quantity = col("quantity"),
      totalAmount = col("total_order_amount"),
      receivedAmount = col("received_amount"))

  /** Route an already-transformed fact frame (useful when the caller
    * caches the fact and derives both sides from one materialization).
    */
  def route(fact: DataFrame): FactSplit = {
    val s = Validate.split(fact, factValidity)
    FactSplit(Categorize.fillUncategorized(s.clean), s.quarantine)
  }

  /** Full E2+F5: transform then route every row to exactly one of
    * clean (fact path, misses filled 'Uncategorized') or quarantine
    * (kept raw for reprocessing).
    */
  def run(raw: DataFrame, dim: DataFrame): FactSplit =
    route(transform(raw, dim))
}
