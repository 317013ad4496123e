package graft.etl

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

/** Recording fake JDBC endpoint (test seam for the executed sink
  * path): dynamic proxies over java.sql.Connection/PreparedStatement
  * that record every executed batch — its SQL, bound parameter rows
  * and connection, in execution order — into a JVM-static queue.
  * local[*] executors share the JVM, so executor-side writes are
  * visible to test assertions — the no-DB stand-in for a real
  * postgres/timescale endpoint. */
object RecordingJdbc {
  /** One executed batch: `conn` numbers the connection it ran on (1 =
    * first opened since `clear`), `params` are its bound rows. */
  final case class Exec(sql: String, conn: Int, params: Vector[Vector[Any]]) {
    def rows: Int = params.length
  }

  val execs = new ConcurrentLinkedQueue[Exec]()
  val connectionsOpened = new AtomicInteger(0)

  def clear(): Unit = { execs.clear(); connectionsOpened.set(0) }

  class Factory extends Sinks.ConnectionFactory {
    override def connect(): Connection = newConnection()
  }

  def newConnection(): Connection =
    proxy[Connection](new ConnHandler(connectionsOpened.incrementAndGet()))

  private def proxy[T](h: InvocationHandler)(implicit ct: scala.reflect.ClassTag[T]): T =
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(ct.runtimeClass), h).asInstanceOf[T]

  private def defaultValue(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Integer.valueOf(0)
    case java.lang.Long.TYPE => java.lang.Long.valueOf(0L)
    case _ => null
  }

  private final class ConnHandler(conn: Int) extends InvocationHandler {
    override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        proxy[PreparedStatement](new StatementHandler(args(0).asInstanceOf[String], conn))
      case "close" | "commit" | "rollback" | "setAutoCommit" => null
      case "isClosed" => java.lang.Boolean.FALSE
      case "toString" => "RecordingJdbc.Connection"
      case _ => defaultValue(m)
    }
  }

  private final class StatementHandler(sql: String, conn: Int) extends InvocationHandler {
    private val current = scala.collection.mutable.Map[Int, Any]()
    private val batched = Vector.newBuilder[Vector[Any]]
    private def row = current.toSeq.sortBy(_._1).map(_._2).toVector

    override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "setObject" | "setString" | "setLong" | "setInt" | "setDouble" | "setTimestamp" =>
        current(args(0).asInstanceOf[Integer].intValue()) = args(1)
        null
      case "setNull" =>
        current(args(0).asInstanceOf[Integer].intValue()) = null
        null
      case "addBatch" =>
        batched += row
        null
      case "executeBatch" =>
        val rows = batched.result()
        batched.clear()
        execs.add(Exec(sql, conn, rows))
        Array.fill(rows.length)(1)
      case "executeUpdate" =>
        execs.add(Exec(sql, conn, Vector(row)))
        Integer.valueOf(1)
      case "close" | "clearParameters" | "clearBatch" => null
      case "toString" => s"RecordingJdbc.Statement($sql)"
      case _ => defaultValue(m)
    }
  }
}
