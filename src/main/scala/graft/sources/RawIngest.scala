package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Raw feed ingestion: the price-transparency XML store files and the
  * JSON price-item feed the reference pipeline consumes.
  *
  * Reference semantics:
  *   - reference/StoresFull7290700100008-000-000-20250821-002217[.gz]
  *     (government price-transparency store file: Root → ChainID →
  *     SubChains → SubChain → Stores → Store),
  *   - reference/examples/docker-compose examples/s3-to-rabbitmq/app.py:70
  *     (JSON feed: Root.{ChainId,StoreId,Items.Item[]}),
  *   - rabbitmq-to-postgres/app.py typed price_items load (casts,
  *     raw_hash idempotency key).
  *
  * Scale posture: Spark's native XML/JSON sources split readable files
  * across executors (gzip members are single-split but many files
  * parallelize); explode of the nested item array is a narrow op; the
  * raw_hash is computed per row with codegen'd sha2, so idempotent
  * re-ingest dedups with one shuffle on raw_hash downstream.
  */
object RawIngest {

  /** The reference checkout's StoresFull store file (PAPER.md §1 places
    * the reference read-only at `/root/reference`); its gzip twin is
    * this path plus `.gz`. The one place the path is spelled: the
    * `q_ingest_stores_xml` entry reads it, and the XML parser specs and
    * the driver-output lint test for it before they read it. */
  val StoresFullReference: String =
    "/root/reference/StoresFull7290700100008-000-000-20250821-002217"

  /** Parse price-transparency StoresFull XML (optionally .gz) into a
    * flat store dimension: one row per `<Store>` element, with the chain
    * id recovered from the feed's filename convention
    * (`StoresFull<chainid>-...`). Row-level rowTag (not the document
    * root) is deliberate: it splits record parsing across executors and
    * sidesteps the feed's BOM-prefixed single-root documents. */
  def storesFromXml(spark: SparkSession, path: String): DataFrame =
    spark.read
      .format("xml")
      .option("rowTag", "Store")
      .load(path)
      .withColumn("chain_id",
        regexp_extract(input_file_name(), "StoresFull(\\d+)", 1))
      .select(
        col("chain_id"),
        col("StoreID").cast("long").as("store_id"),
        trim(col("StoreName").cast("string")).as("store_name"),
        col("StoreType").cast("int").as("store_type"),
        trim(col("Address").cast("string")).as("address"),
        trim(col("City").cast("string")).as("city"),
        col("ZIPCode").cast("string").as("zipcode"))

  /** Split a JSON-lines feed into (parsed, quarantined) in ONE pass:
    * PERMISSIVE parsing keeps malformed lines in a corrupt-record
    * column instead of failing the batch (the reference consumer's
    * try/except-per-message, relationally). Callers land the
    * quarantine frame next to the parsed data for replay/inspection. */
  def parseWithQuarantine(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): (DataFrame, DataFrame) = {
    val raw = spark.read
      .schema(schema.add("_corrupt_record", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // one scan serves both splits; localCheckpoint per the
      // persistence contract (eager, ContextCleaner-released — an
      // internal .cache() would pin blocks for the session) and it
      // materializes _corrupt_record, which Spark forbids querying
      // straight off the lazy scan
      .localCheckpoint()
    val ok = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val quarantined = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (ok, quarantined)
  }

  /** The JSON price feed's shape, Root.{ChainId,StoreId,Items.Item[]},
    * every leaf a string as the feed writes it: the schema inference
    * would produce, declared so the read runs no inference job. Item
    * fields the feed carries beyond these are not read. */
  private val priceFeedSchema: StructType = {
    def strings(names: String*) = names.map(StructField(_, StringType))
    val item = StructType(strings("ItemCode", "ItemName", "ManufacturerName",
      "ItemPrice", "UnitOfMeasurePrice", "Quantity", "UnitQty",
      "PriceUpdateDate", "ItemStatus", "IsWeighted"))
    StructType(Seq(StructField("Root", StructType(
      strings("ChainId", "StoreId") :+
        StructField("Items", StructType(Seq(StructField("Item", ArrayType(item)))))))))
  }

  /** Parse the JSON price feed (`priceFeedSchema`) into one typed row
    * per item with an idempotency hash — the s3→queue→db consumer's
    * transform as one narrow plan. A malformed file fails the read
    * (FAILFAST) instead of parsing to a null root that would yield no
    * rows. */
  def priceItemsFromJson(spark: SparkSession, path: String): DataFrame =
    priceItems(spark.read
      .schema(priceFeedSchema)
      .option("multiLine", "true")
      .option("mode", "FAILFAST")
      .json(path))

  /** The feed transform over a read of the feed's JSON: the casts,
    * the trims and the raw_hash. */
  private[graft] def priceItems(feed: DataFrame): DataFrame =
    feed
      .select(
        col("Root.ChainId").cast("string").as("chain_id"),
        col("Root.StoreId").cast("string").as("store_id"),
        explode(col("Root.Items.Item")).as("item"))
      .select(
        col("chain_id"),
        col("store_id"),
        col("item.ItemCode").cast("string").as("item_code"),
        trim(col("item.ItemName").cast("string")).as("item_name"),
        trim(col("item.ManufacturerName").cast("string")).as("manufacturer_name"),
        col("item.ItemPrice").cast("decimal(12,2)").as("item_price"),
        col("item.UnitOfMeasurePrice").cast("decimal(12,4)").as("unit_of_measure_price"),
        col("item.Quantity").cast("decimal(12,2)").as("quantity"),
        col("item.UnitQty").cast("string").as("unit_qty"),
        col("item.PriceUpdateDate").cast("timestamp").as("price_update_date"),
        col("item.ItemStatus").cast("int").as("item_status"),
        col("item.IsWeighted").cast("int").as("is_weighted"))
      .withColumn("raw_hash",
        sha2(concat_ws("|", col("chain_id"), col("store_id"), col("item_code"),
          col("item_price"), col("price_update_date")), 256))
}
