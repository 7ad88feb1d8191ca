package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, CreateArray, Inline}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{StringType, StructType}

import graft.functions.JsonBytesToStruct

/** Projection pushdown into the JSON parser (Mison, VLDB 2017): an
  * `inline(array(graft_from_json(..)))` generator parses only the fields
  * read above it. Catalyst's column pruning stops at a generator's output,
  * so without this the parser converts every field of the schema.
  *
  * The walk down from the root tracks which attributes of each node's
  * output are read above it. It sees through Filter, EventTimeWatermark
  * and AppendColumns (they pass their input through and read their own
  * references) and learns the read set at a Project (the inputs of the
  * columns read above it) and at a DeserializeToObject (its
  * deserializer's inputs). Any other node reads its whole input, so below
  * it nothing is pruned.
  *
  * Only unread StringType fields are dropped. Every JSON value converts to
  * a string, and Jackson still tokenizes a skipped value, so dropping one
  * never changes which records parse, and the fields kept read the same.
  */
object PruneJsonFields extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = prune(plan, None)

  // `read`: the attributes of `plan`'s output read above it; None = all
  private def prune(plan: LogicalPlan, read: Option[AttributeSet]): LogicalPlan = plan match {
    case p: Project =>
      val used = read.fold(p.projectList)(r => p.projectList.filter(e => r.contains(e.toAttribute)))
      p.mapChildren(prune(_, Some(AttributeSet(used.flatMap(_.references)))))
    case d: DeserializeToObject => d.mapChildren(prune(_, Some(d.references)))
    case n @ (_: Filter | _: EventTimeWatermark | _: AppendColumns) =>
      n.mapChildren(prune(_, read.map(_ ++ n.references)))
    case g @ Generate(inl @ Inline(arr @ CreateArray(Seq(j: JsonBytesToStruct), _)),
        _, _, _, out, _) if read.isDefined && out.length == j.schema.length =>
      val keep = out.zip(j.schema.fields).filter { case (a, f) =>
        read.get.contains(a) || f.dataType != StringType }
      val narrowed =
        if (keep.length == out.length) g
        else g.copy(
          generator = inl.copy(child = arr.copy(children =
            Seq(j.copy(schema = StructType(keep.map(_._2)))))),
          generatorOutput = keep.map(_._1))
      narrowed.mapChildren(prune(_, None))
    case other => other.mapChildren(prune(_, None))
  }
}
