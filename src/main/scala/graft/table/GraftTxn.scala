package graft.table

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableMeta

/**
 * Staging handle for [[GraftTable.transaction]] — ops accumulate as
 * delta-shaped rows and commit together (one fileset, one version). All
 * validation (strict-insert presence, strict-delete existence, the
 * one-op-per-key rule) runs at commit time against the transaction-start
 * snapshot, so a transaction reads a consistent MVCC view and writes
 * atomically — the engine analog of the reference's transactional session
 * (client/client.h:429-531), minus the multi-writer two-phase commit.
 */
class GraftTxn private[table] (t: GraftTable, m: TableMeta) {
  import GraftTable._

  // (opCode, conformed rows, strict) — strict inserts/deletes validate at commit
  private val staged = ArrayBuffer[(String, DataFrame, Boolean)]()
  private var committed = false

  private def stage(op: String, rows: DataFrame, strict: Boolean): Unit = {
    require(!committed, "transaction already committed")
    staged += ((op, rows, strict))
  }

  /** Strict INSERT: at commit, errors if any key already exists. */
  def insert(df: DataFrame): Unit =
    stage(OpUpsert, t.txnConform(m, df), strict = true)

  /** UPSERT (insert-or-replace). */
  def upsert(df: DataFrame): Unit =
    stage(OpUpsert, t.txnConform(m, df), strict = false)

  /** Strict DELETE by PK: at commit, errors if any key is missing. */
  def delete(keysDf: DataFrame): Unit = {
    val keys = m.keyCols
    stage(OpDelete, GraftTable.tombstoneRows(m, keysDf.select(
      keys.map(k => col(k).cast(m.column(k).dataType).as(k)): _*)), strict = true)
  }

  private[graft] def commit(): Unit = {
    require(!committed, "transaction already committed")
    committed = true
    if (staged.isEmpty) return
    val keys = m.keyCols
    val all = staged.map { case (op, rows, _) => rows.withColumn(OpCol, lit(op)) }
      .reduce(_ unionByName _)
    // plan-estimated-tiny transactions validate and commit under static
    // plans (one job per action instead of one per AQE stage); the
    // validation probes' joins are estimate-driven either way, and big
    // transactions keep AQE.
    // The staged union is computed TWICE otherwise — once by the
    // validation collect, once by the commit write — and the staged ops
    // commonly re-read the base table (UPDATE-shaped upserts), so persist
    // it across the two actions (spills for big batches; strictly one
    // materialization instead of two computations either way).
    val plan = Some(GraftTable.planBytes(all, GraftTable.StaticPlanBytes))
    val cached = GraftTable.persisted(all, plan)
    try commitValidated(keys, cached, plan)
    finally cached.unpersist(blocking = false)
  }

  private def commitValidated(keys: Seq[String],
      all: DataFrame, plan: Option[BigInt]): Unit = {
    // Validation runs as ONE job: the duplicate-key check, the strict-insert
    // presence clash, and the strict-delete absence check are independent
    // probes of the txn-start snapshot, so they union into a single action
    // instead of three sequential driver round-trips (at scale the scans
    // dominate, but a commit should never serialize scheduling floors).
    // one op per key per transaction: ops within a commit share a sequence
    // number, so a second write to the same key would have no defined order
    val dup = all.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      .limit(1).select(lit("dup").as("issue"))
    val insertClash = staged.collect { case (OpUpsert, rows, true) => rows }
      .reduceOption(_ unionByName _).map { batch =>
        batch.join(t.txnPresence(m, batch), keys, "left_semi")
          .limit(1).select(lit("insert_present").as("issue"))
      }
    val deleteMissing = staged.collect { case (OpDelete, rows, true) => rows }
      .reduceOption(_ unionByName _).map { batch =>
        batch.join(t.txnPresence(m, batch), keys, "left_anti")
          .limit(1).select(lit("delete_missing").as("issue"))
      }
    val issues = GraftTable.planned((Seq(dup) ++ insertClash ++ deleteMissing)
      .reduce(_ unionByName _), plan).collect().map(_.getString(0)).toSet
    if (issues("dup"))
      throw new PrimaryKeyException(
        s"transaction touches a primary key more than once on ${m.name}")
    if (issues("insert_present"))
      throw new PrimaryKeyException(s"transactional INSERT key already present in ${m.name}")
    if (issues("delete_missing"))
      throw new PrimaryKeyException(s"transactional DELETE key not found in ${m.name}")
    // single delta commit = the atomic unit; the optimistic version guard
    // in TableMeta.write aborts if another writer committed since `m`
    t.txnCommit(m, all)
  }
}

/**
 * Driver-side registry of open transaction handles, keying the SQL `CALL`
 * transaction surface (`txn_begin` / `txn_insert` / … / `txn_commit`, see
 * [[graft.sources.v2.GraftProcedures]]). Each `CALL` is its own Spark
 * statement, so the staged state between begin and commit lives here —
 * the engine analog of the reference client's transaction handle held
 * across session operations (client/client.h:429-531). Handles are
 * consumed by commit/abort whether or not the commit succeeds: a failed
 * commit already released its snapshot guard, so retrying it would
 * validate against a stale view — the caller begins a fresh transaction
 * instead (same contract as [[GraftTable.transaction]], which deliberately
 * does not retry).
 */
object GraftTxnRegistry {
  /** Stale-handle guards: an abandoned `txn_begin` leaks a map entry, so
    * handles expire after `graft.txn.timeoutMs` (swept lazily on the next
    * begin; an expired handle just staged lazy frames, nothing on disk),
    * and the registry is capped so a buggy client can't grow it forever. */
  private val MaxOpen = 128
  private val DefaultTimeoutMs = 10L * 60 * 1000
  private case class Handle(t: GraftTable, txn: GraftTxn, beganAtMs: Long)
  private val open =
    new java.util.concurrent.ConcurrentHashMap[String, Handle]()

  def begin(t: GraftTable): String = {
    val timeoutMs = t.spark.conf.getOption("graft.txn.timeoutMs")
      .map(_.toLong).getOrElse(DefaultTimeoutMs)
    if (timeoutMs > 0) {
      val cutoff = System.currentTimeMillis() - timeoutMs
      open.forEach((id, h) => if (h.beganAtMs < cutoff) open.remove(id))
    }
    require(open.size < MaxOpen,
      s"too many open transactions (max $MaxOpen): commit or abort stale handles")
    val id = java.util.UUID.randomUUID().toString.take(12)
    open.put(id, Handle(t, new GraftTxn(t, t.meta), System.currentTimeMillis()))
    id
  }

  private def handle(id: String): Handle =
    Option(open.get(id)).getOrElse(throw new NoSuchElementException(
      s"no open transaction '$id' (committed, aborted, expired, or never begun)"))

  def stage(id: String)(op: GraftTxn => Unit): Unit = op(handle(id).txn)

  /** Commits and returns the new table version. The handle is consumed
    * first: even a failed commit must not be retryable on a stale view. */
  def commit(id: String): Long = {
    val h = handle(id)
    open.remove(id)
    h.txn.commit()
    h.t.currentVersion
  }

  def abort(id: String): Boolean = open.remove(id) != null
}
