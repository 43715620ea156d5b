package perfbench

object Workloads {
  val names = Seq("ingest_refresh", "curation")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest_refresh" => new IngestRefresh(ctx)
    case "curation" => new Curation(ctx)
  }
}
