package graft.core.html

/** Form taxonomy — classifying every `<form>` on a page as login /
  * search / newsletter / upload / other from its input types. A corpus
  * pipeline reads this two ways: login-dominant pages are access walls
  * (cf. [[Paywall]]), search/newsletter forms are boilerplate surfaces
  * whose surrounding text is low-value for training.
  *
  * Classification precedence (first match wins): password input → login;
  * file input → upload; search input or a lone text input named q/s/query
  * → search; email input with no other text inputs → newsletter; else
  * other. Precedence keeps a login form with an email field a LOGIN form.
  */
object Forms {

  final case class FormInfo(idx: Int, action: String, method: String,
                            nInputs: Int, kind: String)

  private val QueryNames = Set("q", "s", "query", "search")

  def scan(html: String): Vector[FormInfo] = {
    val out = Vector.newBuilder[FormInfo]
    var idx = 0
    // the open form: its action and method, and its input descriptors
    var open = false
    var action, method = ""
    var nInputs, nText = 0
    var hasPassword, hasFile, hasSearch, hasEmail, textNameIsQuery = false

    def close(): Unit = if (open) {
      val kind =
        if (hasPassword) "login"
        else if (hasFile) "upload"
        else if (hasSearch || (nText == 1 && textNameIsQuery)) "search"
        else if (hasEmail && nText == 0) "newsletter"
        else "other"
      out += FormInfo(idx, action, method, nInputs, kind)
      idx += 1
      open = false
    }

    val t = new HtmlTokenizer(html)
    while (t.next()) {
      if (t.isStart("form")) {
        close() // forms do not nest: a new one closes an open one
        val body = t.body
        open = true
        action = HtmlExtract.attr(body, "action").getOrElse("")
        method = HtmlExtract.attr(body, "method")
          .map(_.trim.toUpperCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
          .getOrElse("GET")
        nInputs = 0; nText = 0
        hasPassword = false; hasFile = false; hasSearch = false; hasEmail = false
        textNameIsQuery = false
      } else if (open && t.isStart("input")) {
        val body = t.body
        val tpe = HtmlExtract.attr(body, "type")
          .map(_.trim.toLowerCase(java.util.Locale.ROOT)).getOrElse("text")
        val name = HtmlExtract.attr(body, "name")
          .map(_.trim.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
        if (tpe != "hidden" && tpe != "submit") nInputs += 1
        tpe match {
          case "password" => hasPassword = true
          case "file"     => hasFile = true
          case "search"   => hasSearch = true
          case "email"    => hasEmail = true
          case "text" =>
            nText += 1
            if (QueryNames.contains(name)) textNameIsQuery = true
          case _ =>
        }
      } else if (t.isEnd("form")) close()
    }
    close()
    out.result()
  }
}
