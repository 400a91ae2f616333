package graft.canon

/** RFC-3986 URL canonicalizer — the identity function of the URL-seen set.
  *
  * The reference deduplicates frontier entries by exact `(routeId, query)`
  * subdocument match (reference: src/db/queue.js:63-83); the north rule
  * upgrades that to canonicalized-URL identity (`xxhash64(canon(url))`).
  * Canonicalization follows RFC 3986 §6.2.2 (syntax-based normalization):
  *
  *   1. scheme and host lowercased
  *   2. default ports stripped (http:80, https:443)
  *   3. fragment removed
  *   4. dot-segments resolved in the path ("." / "..")
  *   5. percent-encodings of unreserved chars decoded; the rest uppercased
  *   6. query parameters sorted (stable, by key then value)
  *   7. empty path → "/"
  *
  * Pure Scala, no Spark dependency — usable both from the Spark UDF
  * ([[graft.canon.CanonUdfs]]) and the single-threaded oracle simulator.
  */
object UrlCanon {

  private val UrlRe =
    "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$".r

  private def isUnreserved(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** Decode %XX triplets of unreserved characters; uppercase the hex digits of
    * every triplet that stays encoded. Malformed triplets pass through as-is.
    */
  private[canon] def normalizePercent(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        val hi = Character.digit(s.charAt(i + 1), 16)
        val lo = Character.digit(s.charAt(i + 2), 16)
        val decoded = ((hi << 4) | lo).toChar
        if (decoded < 0x80 && isUnreserved(decoded)) sb.append(decoded)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean = Character.digit(c, 16) >= 0

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private[canon] def removeDotSegments(path: String): String = {
    if (path.isEmpty) return path
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // Split keeping structure: segments are separated by '/'
    val segs = path.split("/", -1)
    val absolute = path.startsWith("/")
    var trailingSlash = false
    segs.foreach {
      case "."  => trailingSlash = true
      case ".." => if (out.nonEmpty) out.remove(out.length - 1); trailingSlash = true
      case ""   => trailingSlash = true // collapse later; keep structure via flags
      case s    => out += s; trailingSlash = false
    }
    // Preserve a trailing slash if the original path ended with '/', '.', '..'
    val endsSlashy = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..") ||
      path == "." || path == ".."
    val body = out.mkString("/")
    val prefix = if (absolute) "/" else ""
    val suffix = if (endsSlashy && body.nonEmpty) "/" else ""
    val r = prefix + body + suffix
    if (r.isEmpty && absolute) "/" else r
  }

  private def stripDefaultPort(scheme: String, hostPort: String): String = {
    val default = scheme match {
      case "http"  => ":80"
      case "https" => ":443"
      case "ftp"   => ":21"
      case _       => null
    }
    if (default != null && hostPort.endsWith(default))
      hostPort.substring(0, hostPort.length - default.length)
    else hostPort
  }

  /** Sort query parameters stably by (key, value); normalize percent-encoding
    * per-component. Parameters without '=' keep their bare form.
    */
  private[canon] def normalizeQuery(q: String): String = {
    if (q == null || q.isEmpty) return ""
    val params = q.split("&", -1).filter(_.nonEmpty).map { p =>
      normalizePercent(p)
    }
    params.sortInPlace()(Ordering.String)
    params.mkString("&")
  }

  /** Canonicalize `url`. Non-URL strings (no scheme://) are returned
    * trimmed+as-is so the function is total — the seen-set then degrades to
    * exact-string identity, matching the reference's exact-match dedup.
    */
  def canonicalize(url: String): String = {
    if (url == null) return null
    val trimmed = url.trim
    trimmed match {
      case UrlRe(scheme0, auth0, path0, query0) =>
        val scheme = scheme0.toLowerCase
        // authority = [userinfo@]host[:port]
        val (userinfo, hostPort0) = auth0.lastIndexOf('@') match {
          case -1 => ("", auth0)
          case i  => (auth0.substring(0, i + 1), auth0.substring(i + 1))
        }
        val hostPort = stripDefaultPort(scheme, hostPort0.toLowerCase)
        val path1 = removeDotSegments(normalizePercent(path0))
        val path = if (path1.isEmpty) "/" else path1
        val query = normalizeQuery(query0)
        val qPart = if (query.isEmpty) "" else "?" + query
        s"$scheme://$userinfo$hostPort$path$qPart"
      case _ => trimmed
    }
  }

  /** Lowercased host (no port, no userinfo) of a canonical or raw URL; ""
    * for non-URLs. The politeness scheduler partitions on this.
    */
  def host(url: String): String = {
    if (url == null) return ""
    url.trim match {
      case UrlRe(_, auth, _, _) =>
        val hp = auth.lastIndexOf('@') match {
          case -1 => auth
          case i  => auth.substring(i + 1)
        }
        val h = hp.lastIndexOf(':') match {
          case -1 => hp
          // IPv6 literals like [::1]:8080 — only strip after the bracket
          case i if hp.startsWith("[") && !hp.substring(i).contains("]") => hp.substring(0, i)
          case i if !hp.startsWith("[") => hp.substring(0, i)
          case _ => hp
        }
        h.toLowerCase
      case _ => ""
    }
  }

  /** Resolve a possibly-relative link against a base URL (RFC 3986 §5.2,
    * simplified to the cases a crawler meets: absolute, scheme-relative,
    * root-relative, and relative paths).
    */
  def resolve(base: String, link: String): String = {
    if (link == null || link.isEmpty) return canonicalize(base)
    val l = link.trim
    if (UrlRe.pattern.matcher(l).matches()) canonicalize(l)
    else canonicalize(base) match {
      case UrlRe(scheme, auth, path, _) =>
        if (l.startsWith("//")) canonicalize(s"$scheme:$l")
        else if (l.startsWith("/")) canonicalize(s"$scheme://$auth$l")
        else if (l.startsWith("?")) canonicalize(s"$scheme://$auth$path$l")
        else {
          val dir = path.lastIndexOf('/') match {
            case -1 => "/"
            case i  => path.substring(0, i + 1)
          }
          canonicalize(s"$scheme://$auth$dir$l")
        }
      case _ => l
    }
  }
}
