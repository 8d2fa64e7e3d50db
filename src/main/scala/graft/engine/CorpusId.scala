package graft.engine

import java.io.{DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.{DigestOutputStream, MessageDigest}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DataType, Metadata, ObjectType}
import org.apache.spark.unsafe.types.UTF8String

/** The content identity of a corpus: one SHA-256 over its analyzed plan,
  * canonicalized, with every file relation standing for its sorted file
  * list. Every at-rest stamp, trained-model term and session memo key
  * in the program starts with it.
  *
  * The value is the same in every JVM for the same plan over the same
  * files, so an index written by one process is reused by the next.
  * `semanticHash` is not: a parquet relation hashes its
  * `ParquetFileFormat`, whose `hashCode` is the class object's identity.
  * So no part of the value rests on a `hashCode` that is not
  * content-derived; the plan is walked field by field instead:
  *
  *  - a file relation contributes its format's class name, options,
  *    schemas and each leaf file's (path, length, mtime), so a
  *    rewritten, added or removed file changes the value. A rewrite
  *    that keeps all three is not seen;
  *  - an in-memory leaf (`LocalRelation`) contributes its rows;
  *  - attribute and lambda-variable ids contribute their position, not
  *    the JVM's running counter;
  *  - literals contribute their values.
  *
  * A plan with no such identity gets none (`of` is None): one over an
  * RDD leaf (a checkpointed or materialized relation, whose only
  * identity is the RDD object), and one holding any value whose only
  * `hashCode` is the object's identity, such as a closure in a typed
  * `map` or a Scala UDF.
  */
object CorpusId {

  def of(df: DataFrame): Option[String] = {
    val md = MessageDigest.getInstance("SHA-256")
    val walk = new Walk(new DataOutputStream(
      new DigestOutputStream(OutputStream.nullOutputStream(), md)))
    try {
      walk.any(df.queryExecution.analyzed.canonicalized)
      Some(md.digest().map(b => f"${b & 0xff}%02x").mkString)
    } catch { case NoIdentity => None }
  }

  /** The identity of several corpora together: None unless each has one. */
  def of(dfs: Seq[DataFrame]): Option[String] =
    Some(dfs.map(of)).filter(_.forall(_.isDefined)).map(_.flatten.mkString("+"))

  /** `df`'s stamp field: its identity, or for a plan without one a fresh
    * token that no stamp equals, so an index over it always rebuilds.
    */
  def field(df: DataFrame): String =
    of(df).getOrElse(s"none-${java.util.UUID.randomUUID()}")

  /** An at-rest stamp: `df`'s [[field]], then `params`, colon-joined. */
  def stamp(df: DataFrame, params: Any*): String =
    (field(df) +: params).mkString(":")

  private object NoIdentity extends RuntimeException(null, null, false, false)

  private final class Walk(out: DataOutputStream) {
    // a lambda variable's id is the JVM's running counter; it stands for
    // its (lambda's walk order, argument position) instead
    private val lambdaVars = scala.collection.mutable.Map.empty[Long, String]
    private var lambdas = 0

    private def str(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      out.writeInt(b.length)
      out.write(b)
    }

    private def node(name: String, fields: Any*): Unit = {
      str(name)
      out.writeInt(fields.size)
      fields.foreach(any)
    }

    def any(v: Any): Unit = v match {
      case null => str("null")
      case _: LogicalRDD => throw NoIdentity
      case LogicalRelation(h: HadoopFsRelation, output, _, _, _) =>
        val files = h.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sortBy(_._1)
        node("files", h.fileFormat.getClass.getName,
          h.options.toSeq.sortBy(_._1), h.dataSchema, h.partitionSchema,
          output, files)
      case r: LocalRelation => node("local", r.output, r.isStreaming,
        r.data.map(convertToScala(_, r.schema)))
      case a: AttributeReference =>
        node("attr", a.name, a.exprId, a.dataType, a.nullable, a.metadata)
      case e: ExprId => out.writeLong(e.id)
      case l: Literal => node("lit", l.dataType, convertToScala(l.value, l.dataType))
      case f: LambdaFunction =>
        lambdas += 1
        f.arguments.zipWithIndex.foreach { case (a, i) =>
          lambdaVars(a.exprId.id) = s"$lambdas.$i"
        }
        node("lambda", f.arguments.map(a => (a.dataType, a.nullable)),
          f.function, f.hidden)
      case n: NamedLambdaVariable =>
        node("lambdavar", lambdaVars.getOrElse(n.exprId.id, "free"),
          n.dataType, n.nullable)
      case o: ObjectType => node("object", o.cls.getName)
      case t: DataType => str(t.json)
      case m: Metadata => str(m.json)
      case c: Class[_] => str(c.getName)
      case e: java.lang.Enum[_] =>
        str(e.getDeclaringClass.getName + "." + e.name)
      case e: Enumeration#Value => str(e.toString)
      case s: String => str(s)
      case b: Array[Byte] => str("bytes"); out.writeInt(b.length); out.write(b)
      case a: Array[_] => node("array", a.toSeq: _*)
      case s: Iterable[_] => node("seq", s.toSeq: _*)
      case r: Row => node("row", r.toSeq: _*)
      case p: Product => node(p.getClass.getName, p.productIterator.toSeq: _*)
      case t: java.sql.Timestamp => str(s"timestamp=${t.getTime}.${t.getNanos}")
      case x @ (_: java.lang.Number | _: java.lang.Boolean |
          _: java.lang.Character | _: UTF8String | _: BigDecimal | _: BigInt) =>
        str(x.getClass.getName + "=" + x)
      case x if x.getClass.getMethod("hashCode").getDeclaringClass !=
          classOf[Object] =>
        // a value type with a content hashCode (e.g. a BloomFilter)
        str(x.getClass.getName)
        out.writeInt(x.hashCode)
      case _ => throw NoIdentity
    }
  }
}
