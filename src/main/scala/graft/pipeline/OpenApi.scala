package graft.pipeline

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.functions.JsonOps

/** OpenAPI 3 description of the REST control plane — the engine's
  * analogue of the reference's swagger document + UI mounted at
  * `/openapi` (`pkg/http/openapi/openapi.go:31`, wired into the
  * runtime at `pkg/conduit/runtime.go:974-983` and advertised in the
  * startup log). The reference ships a protoc-generated
  * `api.swagger.json`; this engine has no protoc, so the document is
  * rendered from the SAME route tables [[ControlPlane]] registers its
  * handlers from ([[ControlPlane.Routes]] for the pipeline and system
  * routes, [[ControlPlane.Resources]] for the gRPC-bridged resource
  * routes) — the doc and the server are two views of one table.
  *
  * The explorer at `GET /openapi` is a single self-contained HTML
  * page (no CDN assets — the deployment target has no egress): it
  * fetches `/openapi.json`, renders the operations grouped by tag,
  * and fires requests with `fetch` for the GET routes.
  */
object OpenApi {

  /** One REST operation as the OpenAPI `paths` object lists it. */
  final case class Route(method: String, path: String, operationId: String,
                         summary: String, tag: String)

  /** Every route the control plane serves: the pipeline and system
    * routes of [[ControlPlane.Routes]], then the /v1/connectors and
    * /v1/processors routes DERIVED from [[ControlPlane.Resources]] —
    * the same values `start()` serves.
    */
  def routes: Seq[Route] = ControlPlane.Routes.map(_.route) ++ resourceRoutes

  private def resourceRoutes: Seq[Route] =
    ControlPlane.Resources.flatMap { r =>
      val tag = r.noun.toLowerCase + "s"
      val base = Seq(
        Route("get", r.base, s"List${r.noun}s",
          s"List ${tag} (?pipeline_id= filters)", tag),
        Route("post", r.base, s"Create${r.noun}",
          s"Create a ${r.noun.toLowerCase}", tag),
        Route("get", s"${r.base}/{id}", s"Get${r.noun}",
          s"Get one ${r.noun.toLowerCase} by composite id", tag),
        Route("put", s"${r.base}/{id}", s"Update${r.noun}",
          s"Update a ${r.noun.toLowerCase}", tag),
        Route("delete", s"${r.base}/{id}", s"Delete${r.noun}",
          s"Delete a ${r.noun.toLowerCase}", tag))
      val validate =
        if (r.hasValidate)
          Seq(Route("post", s"${r.base}/validate", s"Validate${r.noun}",
            s"Validate a ${r.noun.toLowerCase} configuration without " +
              "creating it", tag))
        else Nil
      val inspects = r.inspectRoutes.toSeq.sortBy(_._1).map {
        case (sub, method) =>
          Route("get", s"${r.base}/{id}/$sub", method,
            "First drained inspector-tap payload (?limit= and " +
              "?duration_ms= bound the call)", tag)
      }
      base ++ validate ++ inspects
    }

  /** The OpenAPI 3 document as JSON, built with a real JSON writer
    * (never string-spliced) so it always parses.
    */
  def documentJson: String = {
    val m = JsonOps.mapper
    val root = m.createObjectNode()
    root.put("openapi", "3.0.3")
    val info = root.putObject("info")
    info.put("title", "graft control plane")
    info.put("description",
      "REST facade over the pipeline engine's gRPC control services " +
        "(same handler maps, one vocabulary).")
    info.put("version", graft.ops.PluginCatalog.Version)
    val paths = root.putObject("paths")
    routes.groupBy(_.path).toSeq.sortBy(_._1).foreach { case (path, ops) =>
      val p = paths.putObject(path)
      ops.foreach { r =>
        val op = p.putObject(r.method)
        op.put("operationId", r.operationId)
        op.put("summary", r.summary)
        op.putArray("tags").add(r.tag)
        if (path.contains("{id}")) {
          val params: ArrayNode = op.putArray("parameters")
          val idp: ObjectNode = params.addObject()
          idp.put("name", "id")
          idp.put("in", "path")
          idp.put("required", true)
          idp.putObject("schema").put("type", "string")
        }
        val ok = op.putObject("responses").putObject("200")
        ok.put("description", "OK")
      }
    }
    JsonOps.render(root)
  }

  /** The explorer page: one static HTML document, zero external
    * assets. Renders /openapi.json grouped by tag; GET operations
    * without path parameters get a "try" button wired to fetch.
    */
  def explorerHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft API explorer</title>
      |<style>
      | body{font-family:system-ui,sans-serif;margin:2rem;max-width:60rem}
      | h2{border-bottom:1px solid #ccc;padding-bottom:.2rem;
      |    text-transform:capitalize}
      | .op{margin:.4rem 0;padding:.4rem .6rem;border:1px solid #ddd;
      |     border-radius:4px}
      | .m{display:inline-block;width:4.5rem;font-weight:700;
      |    text-transform:uppercase}
      | .m-get{color:#1a7f37}.m-post{color:#0550ae}
      | .m-put{color:#9a6700}.m-delete{color:#cf222e}
      | code{background:#f6f8fa;padding:.1rem .3rem;border-radius:3px}
      | .sum{color:#555;margin-left:.5rem}
      | button{margin-left:.5rem}
      | pre{background:#f6f8fa;padding:.5rem;overflow:auto;max-height:16rem}
      |</style></head><body>
      |<h1>graft control plane</h1>
      |<p>Rendered from <a href="/openapi.json">/openapi.json</a>.</p>
      |<div id="ops">loading…</div>
      |<script>
      |fetch('/openapi.json').then(r=>r.json()).then(doc=>{
      |  const byTag={};
      |  for(const [path,ops] of Object.entries(doc.paths))
      |    for(const [method,op] of Object.entries(ops)){
      |      const t=(op.tags&&op.tags[0])||'other';
      |      (byTag[t]=byTag[t]||[]).push({path,method,op});
      |    }
      |  const root=document.getElementById('ops');root.textContent='';
      |  for(const tag of Object.keys(byTag).sort()){
      |    const h=document.createElement('h2');h.textContent=tag;
      |    root.appendChild(h);
      |    for(const {path,method,op} of byTag[tag]){
      |      const d=document.createElement('div');d.className='op';
      |      d.innerHTML='<span class="m m-'+method+'">'+method+'</span>'+
      |        '<code>'+path+'</code>'+
      |        '<span class="sum">'+(op.summary||'')+'</span>';
      |      if(method==='get'&&!path.includes('{')){
      |        const b=document.createElement('button');b.textContent='try';
      |        const pre=document.createElement('pre');pre.hidden=true;
      |        b.onclick=()=>fetch(path).then(r=>r.text()).then(t=>{
      |          pre.hidden=false;pre.textContent=t;});
      |        d.appendChild(b);d.appendChild(pre);
      |      }
      |      root.appendChild(d);
      |    }
      |  }
      |});
      |</script></body></html>
      |""".stripMargin
}
