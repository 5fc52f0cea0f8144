package graft.store

import java.util.Properties

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Optional JDBC sink (SURVEY §2.12; reference
  * `crates/storage/src/app_storage.rs:20-67` — the SQLite/Postgres
  * storage backends selected by `--storage`). The manifest-committed
  * parquet [[GraftStore]] remains the primary design; this adapter
  * mirrors its tables into any JDBC database for downstream tools that
  * expect SQL, with the reference's table-prefix namespacing
  * (main.rs:46-50).
  *
  * Uses Spark's built-in JDBC writer — partition-parallel inserts, no
  * driver-side row loop. Tested against embedded Derby (the JDBC engine
  * available in this environment); Postgres/SQLite swap in via
  * `url`/`driver` with no code change.
  *
  * NOTE: unlike [[GraftStore.commit]], SQL tables get per-table
  * transactions, not one cross-table commit — the JDBC path is a parity
  * EXPORT of a consistent snapshot, not the engine's source of truth.
  * The leaf list is resolved ONCE up front and every table is read from
  * that one snapshot ([[GraftStore.readLeaves]]), so the three exported
  * tables stay mutually consistent even while a tail ingests — a commit
  * landing mid-export can never yield transactions whose blocks are
  * missing from the exported blocks table.
  */
object JdbcSink {

  /** Export every store table to `url` as `<prefix>_<table>`. Returns
    * per-table row counts. */
  def export(
      spark: SparkSession,
      store: GraftStore,
      url: String,
      prefix: String = "etl",
      mode: SaveMode = SaveMode.Overwrite,
      properties: Properties = new Properties()): Map[String, Long] = {
    val snapshot = store.snapshot() // one snapshot for ALL tables
    store.Tables.map { table =>
      val df = snapshot.read(spark, table, snapshot.leaves)
      df.write.mode(mode).jdbc(url, s"${prefix}_$table", properties)
      table -> df.count()
    }.toMap
  }
}
