package graft.sources

import graft.Model.SourcePayload
import graft.ParseError
import graft.functions.PollaParsers

/** Source adapter registry — the reference's `SOURCE_LOADERS` dict
  * (`pipeline.py:22-23,582-588`) without reflection: a plain trait and an
  * ordered registry. Registration order IS the consensus tie-break
  * priority, made explicit as `priority`.
  */
trait PozoSource {
  def name: String
  def priority: Int
  def fetch(): SourcePayload
}

/** HTML jackpot-page source: fetch → flatten HTML to text → regex-extract
  * amounts/sorteo/fecha (reference `sources/pozos.py:235-269`).
  * `allowTotal=false` mirrors openloto (excludes "Total estimado"). */
final class HtmlPozoSource(
    val name: String,
    val priority: Int,
    url: String,
    ua: String,
    fetcher: Fetcher,
    allowTotal: Boolean,
    absentAsZero: Boolean = true,
    clock: () => Long = System.currentTimeMillis) extends PozoSource {

  def fetch(): SourcePayload = {
    val res = fetcher.fetch(url, ua)
    val (amounts, sorteo, fecha) = HtmlPozoSource.extract(res.html, url, allowTotal, absentAsZero)
    SourcePayload(
      source_name = name, priority = priority, fuente = url,
      fetched_at = java.time.Instant.ofEpochMilli(res.fetchedAtMs).toString,
      sha256 = Some(res.sha256), estimado = true, montos = amounts,
      user_agent = Some(ua), sorteo = sorteo, fecha = fecha)
  }
}

object HtmlPozoSource {
  /** A page's pozo amounts and its próximo sorteo and fecha: the page is
    * flattened to text, the amounts extracted, and a page whose amounts
    * are missing or all zero is refused (reference
    * `sources/pozos.py:242-246`). Throws [[ParseError]]. */
  def extract(html: String, url: String, allowTotal: Boolean,
      absentAsZero: Boolean): (Map[String, Long], Option[Long], Option[String]) = {
    val text = Html.toText(html)
    val amounts = PollaParsers.extractAmounts(text, allowTotal, absentAsZero) match {
      case Right(a) => a
      case Left(e) => throw new ParseError(e, Map("url" -> url))
    }
    if (amounts.isEmpty || amounts.values.sum == 0L)
      throw new ParseError(s"No valid pozo amounts found in source content from $url",
        Map("url" -> url, "text_snippet" -> text.take(200)))
    val (sorteo, fecha) = PollaParsers.extractProximoInfo(text)
    (amounts, sorteo, fecha)
  }
}

/** DOM-selector jackpot source — the polla.cl SPA extraction path
  * (reference `sources/pozos.py:363-438`), minus the live headless
  * browser: the reference waits on `.jackpot-banner`, clicks "VER
  * DETALLE POR CATEGORÍA", then parses the rendered HTML; this adapter
  * parses the same rendered HTML (live transport or fixture replay —
  * the reference's own CI never launches a browser either,
  * `tests/test_smoke_sources.py:42-52`).
  *
  * Extraction semantics, mirrored element-for-element:
  *  - total: the text node containing "POZO TOTAL ESTIMADO" → nearest
  *    strict `li` ancestor of its owner → first `.prize` descendant →
  *    `_parse_millones_to_clp`; any failure silently skips the total.
  *  - every `.sub-game` element: first `img` descendant's `src`
  *    (lowercased) maps logo → category; `jubilazo` variants are
  *    disambiguated by an exact "$1.000.000" / "$500.000" member of the
  *    element's stripped strings; first `.prize` descendant parses the
  *    amount; unparseable or unmapped items are skipped.
  *  - sorteo/fecha come from the page's visible text
  *    (`_extract_proximo_info`), and the zero-amount guard applies.
  */
final class DomPozoSource(
    val name: String,
    val priority: Int,
    url: String,
    ua: String,
    fetcher: Fetcher) extends PozoSource {

  def fetch(): SourcePayload = {
    val res = fetcher.fetch(url, ua)
    val root = Dom.parse(res.html)
    val amounts = DomPozoSource.extractAmounts(root)
    if (amounts.isEmpty || amounts.values.sum == 0L)
      throw new ParseError(s"No valid pozo amounts found in source content from $url",
        Map("url" -> url, "text_snippet" -> Html.toText(res.html).take(200)))
    val (sorteo, fecha) = PollaParsers.extractProximoInfo(Html.toText(res.html))
    SourcePayload(
      source_name = name, priority = priority, fuente = url,
      fetched_at = java.time.Instant.ofEpochMilli(res.fetchedAtMs).toString,
      sha256 = Some(res.sha256), estimado = true, montos = amounts,
      user_agent = Some(ua), sorteo = sorteo, fecha = fecha)
  }
}

object DomPozoSource {
  /** Logo filename fragment → category (`sources/pozos.py:399-417`). */
  private def category(src: String, texts: Seq[String]): Option[String] =
    if (src.contains("loto_logo")) Some("Loto Clásico")
    else if (src.contains("recargado")) Some("Recargado")
    else if (src.contains("revancha")) Some("Revancha")
    else if (src.contains("desquite")) Some("Desquite")
    else if (src.contains("jubilazo") && !src.contains("50")) {
      if (texts.contains("$1.000.000")) Some("Jubilazo $1.000.000")
      else if (texts.contains("$500.000")) Some("Jubilazo $500.000")
      else None
    } else if (src.contains("jubilazo-50")) {
      if (texts.contains("$1.000.000")) Some("Jubilazo 50 años $1.000.000")
      else if (texts.contains("$500.000")) Some("Jubilazo 50 años $500.000")
      else None
    } else None

  def extractAmounts(root: Dom.Elem): Map[String, Long] = {
    val total: Option[(String, Long)] = for {
      owner <- root.findStringOwner("POZO TOTAL ESTIMADO")
      li <- owner.ancestor("li")
      prize <- li.byClass("prize").headOption
      v <- PollaParsers.parseClp(prize.textStripped).toOption
    } yield "Total estimado" -> v

    val subGames = root.byClass("sub-game").flatMap { li =>
      for {
        img <- li.firstByTag("img")
        src = img.attr("src").getOrElse("").toLowerCase
        prize <- li.byClass("prize").headOption
        v <- PollaParsers.parseClp(prize.textStripped).toOption
        cat <- category(src, li.strippedStrings)
      } yield cat -> v
    }
    (total.toSeq ++ subGames).toMap
  }
}

/** HTML → visible text, BeautifulSoup `get_text(" ", strip=True)`-style:
  * drop script/style subtrees, replace tags with spaces, unescape common
  * entities, collapse whitespace. */
object Html {
  private val named = Map(
    "nbsp" -> " ", "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "aacute" -> "á", "eacute" -> "é", "iacute" -> "í", "oacute" -> "ó",
    "uacute" -> "ú", "ntilde" -> "ñ", "Aacute" -> "Á", "Eacute" -> "É",
    "Iacute" -> "Í", "Oacute" -> "Ó", "Uacute" -> "Ú", "Ntilde" -> "Ñ",
    "deg" -> "°", "ordm" -> "º", "ordf" -> "ª")

  /** Decode numeric and the common named character entities. */
  def unescape(s: String): String =
    "&(#x?[0-9a-fA-F]+|[a-zA-Z]+);".r.replaceAllIn(s, m => {
      val e = m.group(1)
      val rep =
        if (e.startsWith("#x") || e.startsWith("#X"))
          Character.toString(Integer.parseInt(e.drop(2), 16))
        else if (e.startsWith("#")) Character.toString(e.drop(1).toInt)
        else named.getOrElse(e, m.matched)
      scala.util.matching.Regex.quoteReplacement(rep)
    })

  def toText(html: String): String = {
    val noScript = html
      .replaceAll("(?is)<script.*?</script>", " ")
      .replaceAll("(?is)<style.*?</style>", " ")
      .replaceAll("(?is)<!--.*?-->", " ")
    val noTags = noScript.replaceAll("(?s)<[^>]*>", " ")
    unescape(noTags).replaceAll("\\s+", " ").trim
  }
}

/** Replays fixture HTML from the classpath or a directory — the
  * reference's offline-CI pattern (`tests/test_smoke_sources.py:25-70`):
  * tests never hit the network. */
final class FixtureTransport(pages: Map[String, String],
    robotsTxt: Map[String, String] = Map.empty,
    status: Map[String, Int] = Map.empty) extends HttpTransport {
  def get(url: String, ua: String, timeoutMs: Int): (Int, String) =
    (status.getOrElse(url, 200), pages.getOrElse(url, ""))
  override def robots(host: String, ua: String): Option[String] =
    robotsTxt.get(host)
}

/** Scripted transport for resilience tests: a fixed status sequence
  * (e.g. 429, 429, 200), as `tests/test_phase2_hardening.py:23-27`. */
final class ScriptedTransport(responses: Seq[(Int, String)]) extends HttpTransport {
  private var i = -1
  val requested = scala.collection.mutable.ListBuffer[String]()
  def get(url: String, ua: String, timeoutMs: Int): (Int, String) = {
    requested += url
    i = math.min(i + 1, responses.length - 1)
    responses(i)
  }
}
