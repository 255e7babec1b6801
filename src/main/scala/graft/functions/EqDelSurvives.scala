package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}

/** Row-survives-equality-delete predicate for the DataFrame read paths
  * (`Lakehouse.scan` / `readBetween` / `rewriteDeletes`): TRUE
  * iff the row's key tuple is in NONE of the applicable tombstone sets.
  *
  * This replaces the former per-tombstone broadcast anti-join — whose
  * build side put O(#tombstone keys) in driver/broadcast memory and a
  * join stage in every masked branch — with the SAME executor-side
  * probe the V2 scan's partition readers use: the expression carries
  * only (tombstone dir, key schema) descriptors; each executor loads a
  * key set once per JVM (the `EqDelKeys` cache) and probes rows
  * in-place. No join, no shuffle, no broadcast, and the two read paths
  * now share one masking implementation (the sets are decoded by the
  * same code, so a row masked by one path is masked by the other).
  *
  * Anti-join NULL semantics are preserved on both sides: a tombstone
  * tuple containing NULL is dropped at load, and a data row with a
  * NULL key never matches (`probe` short-circuits).
  *
  * `children` are the DISTINCT key columns across all applicable
  * tombstone sets (different commits may delete by different keys);
  * each [[Ref]] holds the child ordinals of its own key columns, in
  * its key-schema order. Values compare as Catalyst internal types —
  * `EqDelKeys.load` decodes tombstone parquet to exactly those
  * (UTF8String / micros / days / Decimal), matching what the columns
  * evaluate to here.
  *
  * A [[Ref]] applies only to rows of files whose `fileVersions` entry
  * (keyed by the `file` child: the row's data-file path) is below its
  * `version` — the sequence rule, per file, for one relation spanning
  * versions. A file missing from the map fails the probe: an unknown
  * version must not skip a tombstone.
  *
  * Deterministic (pure function of inputs and committed tombstones);
  * codegen ships this instance via `addReferenceObj` and makes one
  * virtual call per row, keeping the stage in whole-stage codegen —
  * the same shape as [[DvSurvives]].
  */
case class EqDelSurvives(keys: Seq[Expression],
    refs: Seq[EqDelSurvives.Ref], file: Expression,
    fileVersions: Map[String, Long])
    extends Expression {

  override def children: Seq[Expression] = keys :+ file
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  // executor-side load, JVM-cached per tombstone dir: (child ordinals,
  // loaded key set) per applicable tombstone commit
  @transient private lazy val loaded
      : Array[(Array[Int], Set[Seq[Any]], Long)] =
    refs.map(r => (r.ordinals.toArray,
      graft.sources.EqDelKeys.load(r.dir, r.keySchema), r.version)).toArray

  /** TRUE = survives. `vals` are the evaluated key children (null =
    * SQL NULL); `filePath` is the `file` child's value. Called from
    * both eval and the generated code.
    */
  def probe(vals: Array[Object], filePath: Object): Boolean = {
    val fileV = fileVersions.getOrElse(String.valueOf(filePath),
      throw new IllegalStateException(s"equality-delete probe: data " +
        s"file $filePath is not in the read's listing"))
    var i = 0
    while (i < loaded.length) {
      val (ords, set, version) = loaded(i)
      // a NULL key never matches; a tombstone at or below the file's
      // version does not apply to it
      var skip = version <= fileV
      val key = new Array[Any](ords.length)
      var j = 0
      while (j < ords.length && !skip) {
        val v = vals(ords(j))
        if (v == null) skip = true else key(j) = v
        j += 1
      }
      if (!skip &&
        set.contains(scala.collection.immutable.ArraySeq.unsafeWrapArray(key)))
        return false
      i += 1
    }
    true
  }

  override def eval(input: InternalRow): Any = {
    val vals = new Array[Object](keys.length)
    var i = 0
    while (i < keys.length) {
      vals(i) = keys(i).eval(input).asInstanceOf[Object]
      i += 1
    }
    probe(vals, file.eval(input).asInstanceOf[Object])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("eqDelSurvives", this,
      classOf[EqDelSurvives].getName)
    val evals = keys.map(_.genCode(ctx))
    val arr = ctx.freshName("eqdelKeys")
    val fill = evals.zipWithIndex.map { case (e, i) =>
      s"""${e.code}
         $arr[$i] = ${e.isNull} ? null : (Object) ${e.value};"""
    }.mkString("\n")
    val f = file.genCode(ctx)
    ev.copy(
      code = code"""
        Object[] $arr = new Object[${keys.length}];
        $fill
        ${f.code}
        boolean ${ev.value} = $ref.probe($arr,
          ${f.isNull} ? null : (Object) ${f.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keys = newChildren.take(keys.length), file = newChildren.last)
}

object EqDelSurvives {

  /** One applicable tombstone commit: the committed `_GRAFT_EQDEL` dir,
    * the key columns with TABLE-CONTRACT types (what the executor-side
    * load decodes to), each key column's ordinal among the expression's
    * key children, and the commit's version.
    */
  final case class Ref(dir: String, keySchema: StructType,
      ordinals: Seq[Int], version: Long)

  import org.apache.spark.sql.{Column, GraftColumnBridge}

  /** DataFrame-side constructor: `keyCols` are the distinct key columns
    * (by name, resolved against `df`'s output); `refs` index into them.
    */
  def apply(keyCols: Seq[Column], refs: Seq[Ref], file: Column,
      fileVersions: Map[String, Long]): Column =
    GraftColumnBridge.toColumn(EqDelSurvives(
      keyCols.map(GraftColumnBridge.toExpr), refs,
      GraftColumnBridge.toExpr(file), fileVersions))
}
