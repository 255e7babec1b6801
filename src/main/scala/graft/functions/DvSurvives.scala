package graft.functions

import graft.storage.DvSidecar
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Row-survives-deletion-vector predicate for the DataFrame read path
  * (`Lakehouse.scan`): TRUE iff (file, pos) is NOT tombstoned by
  * any applicable DV sidecar.
  *
  * This is the executor-side replacement for the former broadcast
  * anti-join against the collected (file, pos) tombstone frame — that
  * join's build side was O(#deleted rows) in driver/broadcast memory,
  * the one scale ceiling left in the DV design. Here the expression
  * carries only the sidecar INDEX (data-file name → sidecar paths, one
  * entry per file that has deletes — metadata-sized), and each task
  * lazily opens the sidecars of the files it actually reads, caching
  * the decoded runs per file. Rows of a scan task arrive file-by-file,
  * so the cache holds ~one entry at a time; probes are a binary search
  * over run starts.
  *
  * Deterministic (pure function of its inputs and the committed
  * sidecars). Codegen keeps the surrounding stage inside whole-stage
  * codegen: the generated code makes one virtual call into this
  * instance (shipped via `addReferenceObj`) — the per-row cost is a
  * map hit + binary search either way, and only scan branches that
  * actually HAVE deletion vectors carry the filter at all.
  */
case class DvSurvives(file: Expression, pos: Expression,
    sidecars: Map[String, Seq[String]])
    extends Expression {

  override def children: Seq[Expression] = Seq(file, pos)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private lazy val conf =
    graft.storage.HadoopConfs.fresh()
  @transient private lazy val cache =
    scala.collection.mutable.Map.empty[String, DvSidecar.Runs]

  /** Row-survives probe; null identity (no metadata columns) cannot be
    * masked. Called from both eval and the generated code.
    */
  def probe(fileName: Object, posIsNull: Boolean, p: Long): Boolean = {
    if (fileName == null || posIsNull) return true
    val name = fileName.toString
    val runs = cache.getOrElseUpdate(name,
      sidecars.get(name) match {
        case Some(paths) => DvSidecar.loadFor(conf, paths)
        case None => DvSidecar.EmptyRuns
      })
    !runs.contains(p)
  }

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input)
    val p = pos.eval(input)
    probe(f.asInstanceOf[Object], p == null,
      if (p == null) 0L else p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("dvSurvives", this,
      classOf[DvSurvives].getName)
    val f = file.genCode(ctx)
    val p = pos.genCode(ctx)
    ev.copy(
      code = code"""
        ${f.code}
        ${p.code}
        boolean ${ev.value} = $ref.probe(
          ${f.isNull} ? null : (Object) ${f.value},
          ${p.isNull}, ${p.isNull} ? 0L : (long) ${p.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(file = newChildren(0), pos = newChildren(1))
}

object DvSurvives {
  import org.apache.spark.sql.{Column, GraftColumnBridge}
  def apply(file: Column, pos: Column,
      sidecars: Map[String, Seq[String]]): Column =
    GraftColumnBridge.toColumn(DvSurvives(
      GraftColumnBridge.toExpr(file), GraftColumnBridge.toExpr(pos),
      sidecars))
}
