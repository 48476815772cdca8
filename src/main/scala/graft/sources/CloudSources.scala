package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed cloud-storage source wrappers (SURVEY §2.1 cloud rows; r7 verdict
  * #4). Spark-first design: object stores are FILESYSTEMS to Spark (s3a://
  * and abfss:// URIs through the Hadoop connectors), and Unity-Catalog
  * tables are CATALOG TABLES (`spark.table`), so each wrapper is a thin
  * typed config that (a) builds the canonical URI / three-part name,
  * (b) applies credentials from ENV-VAR NAMES (the reference's indirection:
  * configs carry the variable name, never the secret — s3.py:44-60,
  * azure_blob_config.py:67-120), and (c) delegates every read/write to the
  * corresponding file source so the scan/sink algebra (pushdown, dynamic
  * partition overwrite, MERGE upsert) is shared, not re-implemented.
  * Credentials land in the per-session Hadoop conf lazily at read/write
  * time, so constructing a config is side-effect-free and serializable.
  * The cloud connectors' jars (hadoop-aws, hadoop-azure) ship with real
  * clusters; offline, specs gate URI/conf construction and delegation. */

/** AWS S3 bucket config (reference: AwsS3Config, sources/s3.py:44-100).
  * Credentials resolve from env-var names at configure() time; absent vars
  * fall through to the cluster's default provider chain (instance profile,
  * EKS IRSA) — the common production path. */
final case class AwsS3Config(
    bucket: String,
    region: Option[String] = None,
    accessKeyEnv: Option[String] = None,
    secretKeyEnv: Option[String] = None) {
  def url(key: String): String = s"s3a://$bucket/${key.stripPrefix("/")}"
  /** Apply credentials/region to the session's Hadoop conf (per-bucket
    * keys, so two buckets with different roles coexist in one session). */
  def configure(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    for (e <- accessKeyEnv; v <- sys.env.get(e))
      conf.set(s"fs.s3a.bucket.$bucket.access.key", v)
    for (e <- secretKeyEnv; v <- sys.env.get(e))
      conf.set(s"fs.s3a.bucket.$bucket.secret.key", v)
    region.foreach(r => conf.set(s"fs.s3a.bucket.$bucket.endpoint.region", r))
  }
  def parquetAt(key: String): S3ParquetSource = S3ParquetSource(this, key)
  def partitionedParquetAt(key: String, partitionKeys: Seq[String]): CloudDelegateSource =
    CloudDelegateSource(this.configure, PartitionedParquetSource(url(key), partitionKeys))
  def csvAt(key: String, sep: String = ",", header: Boolean = true): CloudDelegateSource =
    CloudDelegateSource(this.configure, CsvSource(url(key), sep, header))
  def jsonAt(key: String): CloudDelegateSource =
    CloudDelegateSource(this.configure, JsonLinesSource(url(key)))
  def deltaAt(key: String): CloudDelegateSource =
    CloudDelegateSource(this.configure, DeltaSource(url(key)))
}

/** Azure Blob / ADLS gen2 container config (reference: AzureBlobConfig,
  * sources/azure_blob_config.py:67-120 + azure_blob_storage.py paths).
  * abfss:// is the ADLS gen2 scheme every modern Spark-on-Azure deployment
  * uses; account-key auth from an env-var name, else the cluster's
  * configured OAuth/MSI chain. */
final case class AzureBlobConfig(
    accountName: String,
    container: String,
    accountKeyEnv: Option[String] = None) {
  private def host = s"$accountName.dfs.core.windows.net"
  def url(path: String): String = s"abfss://$container@$host/${path.stripPrefix("/")}"
  def configure(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    for (e <- accountKeyEnv; v <- sys.env.get(e))
      conf.set(s"fs.azure.account.key.$host", v)
  }
  def parquetAt(path: String): AzureBlobParquetSource = AzureBlobParquetSource(this, path)
  def partitionedParquetAt(path: String, partitionKeys: Seq[String]): CloudDelegateSource =
    CloudDelegateSource(this.configure, PartitionedParquetSource(url(path), partitionKeys))
  def csvAt(path: String, sep: String = ",", header: Boolean = true): CloudDelegateSource =
    CloudDelegateSource(this.configure, CsvSource(url(path), sep, header))
  def jsonAt(path: String): CloudDelegateSource =
    CloudDelegateSource(this.configure, JsonLinesSource(url(path)))
  def deltaAt(path: String): CloudDelegateSource =
    CloudDelegateSource(this.configure, DeltaSource(url(path)))
}

/** A writable source that ensures cloud credentials are applied before
  * delegating to the shared file-source algebra. Delegation (not
  * inheritance) keeps exactly ONE implementation of each read/write path —
  * an S3 parquet upsert IS the local parquet upsert on an s3a:// URI. */
final case class CloudDelegateSource(
    configureFn: SparkSession => Unit,
    inner: WritableSource) extends WritableSource {
  def read(spark: SparkSession): DataFrame = { configureFn(spark); inner.read(spark) }
  override def exists(spark: SparkSession): Boolean = {
    configureFn(spark); inner.exists(spark)
  }
  def insert(df: DataFrame): Unit = { configureFn(df.sparkSession); inner.insert(df) }
  def overwrite(df: DataFrame): Unit = { configureFn(df.sparkSession); inner.overwrite(df) }
  def upsert(df: DataFrame, keys: Seq[String]): Unit = {
    configureFn(df.sparkSession); inner.upsert(df, keys)
  }
}

/** A typed wrapper that forwards every read and write to the source it
  * wraps, `inner`, so each wrapper states only its fields and its inner
  * source. */
sealed trait Forwarding extends WritableSource {
  protected def inner: WritableSource
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  override def exists(spark: SparkSession): Boolean = inner.exists(spark)
  def insert(df: DataFrame): Unit = inner.insert(df)
  def overwrite(df: DataFrame): Unit = inner.overwrite(df)
  def upsert(df: DataFrame, keys: Seq[String]): Unit = inner.upsert(df, keys)
}

/** Named S3 parquet wrapper (the reference's most-used cloud source shape,
  * AwsS3DataSource, sources/s3.py:118-200) — a [[CloudDelegateSource]]
  * with the config/key surfaced as typed fields. */
final case class S3ParquetSource(config: AwsS3Config, key: String) extends Forwarding {
  val path: String = config.url(key)
  protected val inner: WritableSource = CloudDelegateSource(config.configure, ParquetSource(path))
}

/** Named Azure parquet wrapper (reference: AzureBlobParquetDataSource,
  * sources/azure_blob_storage.py) — the [[S3ParquetSource]] symmetry;
  * typed fields make it registry-serializable. */
final case class AzureBlobParquetSource(config: AzureBlobConfig, blobPath: String)
    extends Forwarding {
  val path: String = config.url(blobPath)
  protected val inner: WritableSource = CloudDelegateSource(config.configure, ParquetSource(path))
}

/** Unity Catalog table source (reference: UnityCatalog → schema → table
  * chain, sources/databricks.py:322-374, DatabricksSource:377+). On Spark
  * the three-part name IS the API — `spark.table("cat.sch.tbl")` — so the
  * chainable config just builds that name; reads/writes share
  * [[IcebergSource]]'s catalog-neutral algebra (spark.table,
  * DataFrameWriterV2, ANSI MERGE upsert). */
final case class DatabricksConfig(
    hostEnv: Option[String] = None,
    tokenEnv: Option[String] = None) {
  // host/token env NAMES matter only off-cluster (databricks-connect);
  // on a Databricks cluster spark.table resolves UC natively, so the
  // typed chain below never needs them
  def catalog(name: String): UnityCatalog = UnityCatalog(name)
}
final case class UnityCatalog(name: String) {
  def schema(schemaName: String): UnityCatalogSchema = UnityCatalogSchema(name, schemaName)
}
final case class UnityCatalogSchema(catalog: String, schema: String) {
  def table(tableName: String): UCTableSource = UCTableSource(catalog, schema, tableName)
}
final case class UCTableSource(catalog: String, schema: String, table: String)
    extends Forwarding {
  /** Backtick-quoted so hyphenated catalog/schema names survive. */
  val fullName: String = s"`$catalog`.`$schema`.`$table`"
  protected val inner: IcebergSource = IcebergSource(fullName)
  def mergeSql(sourceView: String, keys: Seq[String]): String =
    inner.mergeSql(sourceView, keys)
}
