package graft

/** Normalizer for formatted-plan pins (`plans/r21/<q>_parent.txt`, dumped
  * by graft.tools.Explain): two dumps of one unchanged plan differ only
  * in per-run names, so each is stripped before lines are compared —
  * expression ids (`#123`), exchange `plan_id`s, node numbers, index
  * temp dirs (`graftidx<random>`), the bucketed tables' `_local_<app-id>`
  * suffix and JVM lambda identities (`$$Lambda…@<hash>`) in object
  * operator arguments. */
object PlanPins {
  def norm(p: String): Seq[String] = p.trim.linesIterator
    .map(_.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("^\\(\\d+\\) ", "").replaceAll(" \\(\\d+\\)$", "")
      .replaceAll("graftidx\\d+", "graftidx")
      .replaceAll("_local_\\d+", "_local_")
      .replaceAll("\\$\\$Lambda[^@\\s]*@[0-9a-f]+", "\\$\\$Lambda"))
    .toSeq
}
