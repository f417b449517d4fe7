package graft.sql

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession
import DuckDialect.{GraftSqlException, Tok, tokenize}

/** The SQL state a DuckDB connection owns, held once per `SparkSession`
  * (reference `src/main/client_context.cpp:520-560`: prepared statements
  * and the open transaction belong to the connection; macros and attached
  * catalogs belong to a database, never to the process). Two sessions of
  * one JVM never see each other's macros, attachments, prepared
  * statements or transaction — the temp views that macros and aliases
  * rewrite into are session-local already.
  *
  *   - `macros`: `CREATE MACRO` name → (parameters, body tokens), inlined
  *     by [[DuckDialect.translate]] at every call site;
  *   - `attached`: `ATTACH` alias → fixture directory, for the
  *     `alias.table` → `alias__table` rewrite;
  *   - `prepared`: `PREPARE` name → raw statement text, bound at EXECUTE;
  *   - the open transaction: each touched table root → its version before
  *     the transaction's first write (the undo log ROLLBACK restores).
  */
final class SessionSql {
  private[sql] val macros = new ConcurrentHashMap[String, (Seq[String], Vector[Tok])]()
  private[sql] val attached = new ConcurrentHashMap[String, String]()
  private[sql] val prepared = new ConcurrentHashMap[String, String]()
  private var txn: Option[scala.collection.mutable.Map[String, Int]] = None

  private[sql] def registerMacro(name: String, params: Seq[String], bodySql: String): Unit =
    macros.put(name.toLowerCase, (params.map(_.toLowerCase), tokenize(bodySql)))

  private[sql] def begin(): Unit = synchronized {
    if (txn.isDefined) throw new GraftSqlException("a transaction is already active")
    txn = Some(scala.collection.mutable.Map.empty)
  }

  /** Close the open transaction, if any; returns its touched roots'
    * pre-transaction versions. */
  private[sql] def end(): Option[Map[String, Int]] = synchronized {
    val m = txn.map(_.toMap)
    txn = None
    m
  }

  /** Record `root`'s pre-transaction version on its first write. */
  private[sql] def touch(root: String): Unit = synchronized {
    txn.foreach(m => if (!m.contains(root))
      m(root) = graft.sources.GraftTable.currentVersion(root))
  }

  private[sql] def refuseInTxn(what: String): Unit = synchronized {
    if (txn.isDefined)
      throw new GraftSqlException(
        s"$what inside a transaction is not supported — COMMIT or ROLLBACK first")
  }
}

object SessionSql {
  private val bySession = new ConcurrentHashMap[SparkSession, SessionSql]()

  /** The state of `spark`, created empty on first use. */
  def of(spark: SparkSession): SessionSql =
    bySession.computeIfAbsent(spark, _ => new SessionSql)
}
