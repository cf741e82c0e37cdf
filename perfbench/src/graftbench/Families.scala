package graftbench

/** The layer (repo module) a registered operation belongs to, by name. */
object Families {
  def of(op: String): String =
    if (op.startsWith("misc_snapshot_") || op.startsWith("misc_catalog_")) "sources"
    else if (op.startsWith("sync_")) "sync"
    else if (op.startsWith("dq_")) "checks"
    else if (op.startsWith("llm_")) "llm"
    else if (Seq("retail_", "meta_", "mms_", "dim_").exists(op.startsWith)) "models"
    else "other"
}
