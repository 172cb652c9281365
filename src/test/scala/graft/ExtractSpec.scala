package graft

import graft.etl.{Extract, ExplodeItems, PaymentType, Sanitize}
import org.apache.spark.sql.functions._

/** R1-R13/G1-G3/U1/P1-P2 semantics against the reference's exact
  * patterns and the adversarial inputs from FIXTURES.md §A
  * (reference cites in graft.etl.Extract).
  */
class ExtractSpec extends SparkSpec {
  import spark.implicits._

  private def one(items: String*)(c: org.apache.spark.sql.Column): Seq[Any] =
    items.toDF("item").select(c.as("v")).collect().map(_.get(0)).toSeq

  test("R1 size: case-insensitive, ''→null, title-cased") {
    assert(one("SOLO hot latte", "duo croffle", "nothing here")(Extract.size(col("item")))
      === Seq("Solo", "Duo", null))
  }

  test("R2 variation hot/cold") {
    assert(one("Solo HOT latte", "cold brew", "croissant")(Extract.variation(col("item")))
      === Seq("Hot", "Cold", null))
  }

  test("R3 flavor only extracted for fries/lemonade items") {
    assert(one("Cheese Fries", "Mango Lemonade", "Cheese Croissant")(Extract.flavor(col("item")))
      === Seq("Cheese", "Mango", null))
  }

  test("R4/R5 sugar and spice levels incl. escaped parens, title-cased") {
    assert(one("tea Sugar 50% x2", "wings Mild (1/4)", "plain")(Extract.sugarLevel(col("item")))
      === Seq("Sugar 50%", null, null))
    // case-insensitive match, title-cased output (pandas .str.title())
    assert(one("wings MILD (1/4)", "wings Spicy (3/4)", "wings mild 1/4")(Extract.spiceLevel(col("item")))
      === Seq("Mild (1/4)", "Spicy (3/4)", null))
    assert(one("tea SUGAR 100%")(Extract.sugarLevel(col("item")))
      === Seq("Sugar 100%"))
  }

  test("R6 quantity: lowercase x<digits> only (reference extract has no re.I)") {
    assert(one("latte x3", "latte x 12", "latte")(Extract.quantity(col("item")))
      === Seq(3.0, 12.0, 1.0))
    // uppercase X is NOT a quantity token in the reference
    assert(one("latte X2")(Extract.quantity(col("item")))
      === Seq(1.0))
  }

  test("R7 pastry rename: two-part extract, Cookie→Cookies canonicalization") {
    assert(one("Matcha Cookie x1")(Extract.pastryName(col("item")))
      === Seq("Cookies - Matcha"))
    assert(one("Biscoff CROFFLE")(Extract.pastryName(col("item")))
      === Seq("Croffle - Biscoff"))
    // ' Cookie' stripped from the flavor part before concat (the
    // reference's replace is global + case-insensitive)
    assert(one("Nutella Pecan Cookies x3")(Extract.pastryFlavor(col("item")))
      === Seq("Nutella Pecan"))
    // specificity order: 'Chip and Chunk Walnut' wins over 'Chip and Chunk'
    assert(one("Chip and Chunk Walnut Cookies")(Extract.pastryFlavor(col("item")))
      === Seq("Chip and Chunk Walnut"))
    // pandas str.extract parity: the matched ORIGINAL casing is kept
    // (title-casing happens later, after the dict map)
    assert(one("biscoff croffle")(Extract.pastryFlavor(col("item")))
      === Seq("biscoff"))
  }

  test("R8 concat is null-propagating (pandas NaN+str parity)") {
    // unknown flavor ⇒ flavor part null ⇒ whole name null (concat, not concat_ws)
    assert(one("Durian Croissant")(Extract.pastryName(col("item"))) === Seq(null))
  }

  test("R9 cleanup strips quantity suffix and parentheticals") {
    assert(one("Solo Iced Tea (new recipe) x2", "Burger x 10")(Extract.cleanupItem(col("item")))
      === Seq("Solo Iced Tea", "Burger"))
  }

  test("R10 literal corrections map is EXACT-match (pandas Series.replace parity)") {
    assert(one("Fruit Lemonade w/Popping Pearls", "Soda w/Popping Pearls")(
      Extract.applyCorrections(col("item")))
      === Seq("Fruit Lemonade w/ Popping Pearls", "Soda w/Popping Pearls"))
  }

  test("R10 corrections look each value up once, in one CASE (no chaining)") {
    // pandas: Series(['a','b','x']).replace({'a':'b','b':'c'}) == ['b','c','x']
    assert(one("a", "b", "x")(Extract.applyCorrections(col("item"), Map("a" -> "b", "b" -> "c")))
      === Seq("b", "c", "x"))
    // one branch per entry: the input appears once per branch + the ELSE
    val m = (1 to 12).map(i => s"k$i" -> s"v$i").toMap
    val plan = Seq("k3").toDF("item").select(Extract.applyCorrections(col("item"), m).as("v"))
      .queryExecution.analyzed
    val refs = plan.expressions.map(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference if a.name == "item" => a
    }.size).sum
    assert(refs === m.size + 1)
  }

  test("R13 numeric coercion: comma strip + errors='coerce'") {
    assert(one("1,192.00", "73.5", "N/A", "12,345,678.99")(Extract.toNumber(col("item")))
      === Seq(1192.0, 73.5, null, 1.234567899e7))
  }

  test("G1-G3 split/explode drops empty fragments from trailing commas") {
    val df = Seq(("o1", "a x1,b x2,"), ("o2", ",,")).toDF("id", "Products")
    val out = ExplodeItems.explodeItems(df, "Products", "item")
      .select("id", "item").as[(String, String)].collect().toSeq
    assert(out === Seq(("o1", "a x1"), ("o1", "b x2")))
  }

  test("U1 payment-type chain incl. pandas NaN-stringification") {
    val got = Seq(
      ("0.00", "-"), ("0", "500"), ("250.00", "-"), ("-", "99.0"), ("-", "-"))
      .toDF("cash", "gcash")
      .select(PaymentType.paymentType(col("cash"), col("gcash")).as("p"))
      .as[String].collect().toSeq
    assert(got === Seq("Free/Voucher/Discounted", "Free/Voucher/Discounted",
      "Cash", "Gcash", "Credit / Debit"))
    // a NULL cell stringifies to 'nan' in the reference (str(NaN)),
    // which is != '-' and so routes to 'Cash' — a quirk, preserved
    val nulls = Seq(1).toDF("x")
      .select(PaymentType.paymentType(lit(null), lit(null)).as("p"))
      .as[String].collect().toSeq
    assert(nulls === Seq("Cash"))
  }

  test("P1/P2 header strip + sink sanitize") {
    assert(Sanitize.sanitizeName(" Sub-Category ") === "sub_category")
    assert(Sanitize.sanitizeName("Type/Channel") === "type_channel")
    val df = Seq((1, 2)).toDF("  Order ID  ", "Product amount")
    assert(Sanitize.sanitizeHeaders(df).columns.toSeq === Seq("order_id", "product_amount"))
  }

  test("R11 pandasTitle: exact pandas str.title() vs initcap divergences") {
    // pandas uppercases after ANY non-alpha; initcap only after spaces
    assert(one("w/ popping pearls", "bbq wings", "mango-graham", "a1b2")(
      graft.etl.Extract.pandasTitle(col("item")))
      === Seq("W/ Popping Pearls", "Bbq Wings", "Mango-Graham", "A1B2"))
    // initcap for contrast: keeps 'popping' after '/' lowercase start
    assert(one("w/ popping")(initcap(col("item"))) === Seq("W/ Popping"))
    assert(one("mango-graham")(initcap(col("item"))) === Seq("Mango-graham"))
  }

  test("P3 strict projection fails loudly on missing contract columns") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Sanitize.project(df, Seq("a", "missing"))
    }
    assert(Sanitize.project(df, Seq("a", "missing"), strict = false).columns.toSeq === Seq("a"))
  }
}
