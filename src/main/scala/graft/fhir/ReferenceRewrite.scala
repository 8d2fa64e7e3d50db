package graft.fhir

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator,
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** T1–T4: surrogate ids, the per-bundle refMap and the graph-wide
  * cross-reference rewrite (reference main.go:257-278, bundle.go:173-221).
  *
  * The reference reflects over every nested field of every resource at
  * *runtime*, collecting `*models.Reference` values and replacing those
  * whose string is a refMap key. Here the declared `entry` type is walked
  * once, when the expression is first evaluated, into a tree of per-field
  * rewriters restricted to subtrees that actually contain a Reference
  * (mirroring the reflection type test at bundle.go:206-207); each row
  * then runs that tree once. The whole rewrite is one Catalyst expression
  * with generated code, so the scan, filter and rewrite compile into one
  * whole-stage-codegen stage. A composition of `transform`/`zip_with`/
  * `map_from_entries` (about 720 expression nodes over the declared
  * schema) would not: higher-order functions are `CodegenFallback`, which
  * takes their operator out of whole-stage codegen.
  */
object ReferenceRewrite {

  /** A struct is Reference-shaped iff it has a string `reference` field —
    * the structural analogue of `case *models.Reference` in Go.
    */
  def isReferenceShape(st: StructType): Boolean =
    st.fields.exists(f => f.name == "reference" && f.dataType == StringType)

  def containsReference(dt: DataType): Boolean = dt match {
    case st: StructType =>
      isReferenceShape(st) || st.fields.exists(f => containsReference(f.dataType))
    case ArrayType(et, _) => containsReference(et)
    case _ => false
  }

  /** `entry` with fresh resource ids and every reference beneath
    * `resource` mapped through the bundle's refMap; see [[RewriteEntries]].
    * `legacyCid` enables the dead-code `cid:` prefix path
    * (bundle.go:127-147).
    */
  def rewriteEntries(entry: Column, bundlePath: Column,
      legacyCid: Boolean = false): Column =
    ColumnBridge.column(RewriteEntries(ColumnBridge.expression(entry),
      ColumnBridge.expression(bundlePath), legacyCid))
}

/** The rewrite of one bundle's `entry` array, with the same type out as in.
  *
  *  - **id** (T1): the first 24 hex chars of sha256 over the UTF-8 bytes of
  *    `concat_ws('|', bundlePath, fullUrl)`; the reference draws random
  *    ObjectIds (main.go:266), deterministic ids make reruns idempotent.
  *  - **refMap** (T2): each non-null `fullUrl` → `concat_ws('/',
  *    resourceType, id)`. A repeated `fullUrl` keeps the later entry, as
  *    the reference's Go map assignment does (main.go:257-272).
  *  - **resource id** (T3): `resource.id := id` where the resource is
  *    non-null; a null entry or resource stays null.
  *  - **references** (T4): every Reference-shaped struct under `resource`,
  *    at any depth, has its `reference` mapped. Unmatched or null
  *    references pass through, like the reference's silent non-replace;
  *    behind `legacyCid`, an unmatched `cid:` reference is looked up again
  *    without the prefix.
  */
case class RewriteEntries(entry: Expression, bundlePath: Expression,
    legacyCid: Boolean) extends BinaryExpression {

  override def left: Expression = entry
  override def right: Expression = bundlePath
  override def dataType: DataType = entry.dataType
  override def nullable: Boolean = entry.nullable
  override def prettyName: String = "rewrite_entries"

  override def checkInputDataTypes(): TypeCheckResult = {
    def string(st: StructType, name: String) =
      st.fields.exists(f => f.name == name && f.dataType == StringType)
    (entry.dataType, bundlePath.dataType) match {
      case (ArrayType(e: StructType, _), StringType) if string(e, "fullUrl") &&
          e.fields.exists(f => f.name == "resource" && (f.dataType match {
            case r: StructType => string(r, "resourceType") && string(r, "id")
            case _ => false
          })) =>
        TypeCheckResult.TypeCheckSuccess
      case (e, p) =>
        TypeCheckResult.TypeCheckFailure(
          "rewrite_entries needs array<struct<fullUrl: string, resource: " +
            "struct<resourceType: string, id: string, …>, …>> and a string " +
            s"path, got ${e.simpleString} and ${p.simpleString}")
    }
  }

  @transient private lazy val rewriter = new EntryRewriter(
    entry.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType],
    legacyCid)

  override def eval(input: InternalRow): Any = {
    val entries = entry.eval(input)
    if (entries == null) null
    else rewriter.rewrite(entries.asInstanceOf[ArrayData],
      bundlePath.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val rw = ctx.addReferenceObj("entryRewriter", rewriter,
      classOf[EntryRewriter].getName)
    val e = entry.genCode(ctx)
    val p = bundlePath.genCode(ctx)
    ev.copy(code = code"""
      ${e.code}
      ${p.code}
      boolean ${ev.isNull} = ${e.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $rw.rewrite(${e.value}, ${p.isNull} ? null : ${p.value});
      }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RewriteEntries =
    copy(entry = newLeft, bundlePath = newRight)
}

/** [[RewriteEntries]]'s per-row work, built once from the entry type.
  * Holds no per-row state, so tasks may share one instance.
  */
final class EntryRewriter(entryType: StructType, legacyCid: Boolean)
    extends Serializable {
  import EntryRewriter._
  import ReferenceRewrite.{containsReference, isReferenceShape}

  private val fullUrlAt = entryType.fieldIndex("fullUrl")
  private val resourceAt = entryType.fieldIndex("resource")
  private val resourceType =
    entryType(resourceAt).dataType.asInstanceOf[StructType]
  private val typeAt = resourceType.fieldIndex("resourceType")
  private val idAt = resourceType.fieldIndex("id")
  private val entryTypes = entryType.fields.map(_.dataType)
  @transient private lazy val resourceFields = fieldsWalk(resourceType)

  /** Maps one non-null reference string through the refMap. */
  private def mapRef(ref: UTF8String, refs: Refs): UTF8String = {
    var hit = refs.get(ref)
    if (hit == null && legacyCid && ref.startsWith(Cid))
      hit = refs.get(ref.substring(Cid.numChars(), ref.numChars()))
    if (hit == null) ref else hit
  }

  /** The field values of a struct of type `st`, rewritten. A
    * Reference-shaped struct maps only its `reference` field; any other
    * struct rewrites the fields that hold a Reference and keeps the rest.
    */
  private def fieldsWalk(st: StructType): (InternalRow, Refs) => Array[Any] = {
    val types = st.fields.map(_.dataType)
    val walks: Array[Walk] =
      if (isReferenceShape(st))
        st.fields.map(f =>
          if (f.name == "reference" && f.dataType == StringType)
            (v, refs) => mapRef(v.asInstanceOf[UTF8String], refs)
          else null)
      else
        st.fields.map(f =>
          if (containsReference(f.dataType)) walker(f.dataType) else null)
    (row, refs) => {
      val out = new Array[Any](types.length)
      var j = 0
      while (j < types.length) {
        if (!row.isNullAt(j)) {
          val x = row.get(j, types(j))
          out(j) = if (walks(j) == null) x else walks(j)(x, refs)
        }
        j += 1
      }
      out
    }
  }

  /** The rewrite of a non-null value of a type that holds a Reference. */
  private def walker(dt: DataType): Walk = dt match {
    case st: StructType =>
      val fields = fieldsWalk(st)
      (v, refs) => new GenericInternalRow(fields(v.asInstanceOf[InternalRow], refs))
    case ArrayType(et, _) =>
      val walk = walker(et)
      (v, refs) => {
        val arr = v.asInstanceOf[ArrayData]
        val out = new Array[Any](arr.numElements())
        var i = 0
        while (i < out.length) {
          if (!arr.isNullAt(i)) out(i) = walk(arr.get(i, et), refs)
          i += 1
        }
        new GenericArrayData(out)
      }
  }

  def rewrite(entries: ArrayData, bundlePath: UTF8String): ArrayData = {
    val n = entries.numElements()
    val rows = new Array[InternalRow](n)
    val ids = new Array[UTF8String](n)
    val refs = new java.util.HashMap[UTF8String, UTF8String]()
    var i = 0
    while (i < n) {
      if (!entries.isNullAt(i)) {
        val e = entries.getStruct(i, entryTypes.length)
        rows(i) = e
        val url = if (e.isNullAt(fullUrlAt)) null else e.getUTF8String(fullUrlAt)
        ids(i) = idFor(bundlePath, url)
        if (url != null) {
          val rt =
            if (e.isNullAt(resourceAt)) null
            else {
              val r = e.getStruct(resourceAt, resourceType.length)
              if (r.isNullAt(typeAt)) null else r.getUTF8String(typeAt)
            }
          refs.put(url, UTF8String.concatWs(Slash, rt, ids(i)))
        }
      }
      i += 1
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val e = rows(i)
      if (e != null) {
        val fields = new Array[Any](entryTypes.length)
        var j = 0
        while (j < fields.length) {
          if (!e.isNullAt(j)) {
            fields(j) =
              if (j != resourceAt) e.get(j, entryTypes(j))
              else {
                val r = resourceFields(
                  e.getStruct(j, resourceType.length), refs)
                r(idAt) = ids(i)
                new GenericInternalRow(r)
              }
          }
          j += 1
        }
        out(i) = new GenericInternalRow(fields)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object EntryRewriter {
  private type Refs = java.util.HashMap[UTF8String, UTF8String]
  private type Walk = (Any, Refs) => Any

  private val Cid = UTF8String.fromString("cid:")
  private val Slash = UTF8String.fromString("/")
  private val Bar = '|'.toByte
  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** One digest per thread: `MessageDigest` is stateful. */
  private val sha256 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  /** `substring(sha2(concat_ws('|', path, fullUrl), 256), 1, 24)` without
    * the joined string or the 64-char hex.
    */
  private def idFor(path: UTF8String, fullUrl: UTF8String): UTF8String = {
    val md = sha256.get()
    md.reset()
    if (path != null) md.update(path.getByteBuffer)
    if (path != null && fullUrl != null) md.update(Bar)
    if (fullUrl != null) md.update(fullUrl.getByteBuffer)
    val d = md.digest()
    val hex = new Array[Byte](24)
    var k = 0
    while (k < 12) {
      hex(2 * k) = Hex((d(k) >> 4) & 0xf)
      hex(2 * k + 1) = Hex(d(k) & 0xf)
      k += 1
    }
    UTF8String.fromBytes(hex)
  }
}
