package graft.warc

/** Record-type predicates (reference sparkcc.py:424-466, P1/P2 in
  * SURVEY §2.2). Pure functions so they can be pushed into the reader
  * (the fastwarc_record_filter analogue) or used in Dataset.filter.
  */
object Predicates {

  def isResponse(r: WarcRecord): Boolean = r.recType == "response"
  def isMetadata(r: WarcRecord): Boolean = r.recType == "metadata"
  def isConversion(r: WarcRecord): Boolean = r.recType == "conversion"

  /** WET text record: conversion + text/plain (sparkcc.py:437-443). */
  def isWetText(r: WarcRecord): Boolean =
    isConversion(r) && r.contentType.exists(_.startsWith("text/plain"))

  /** WAT metadata record: metadata + application/json (sparkcc.py:445-451). */
  def isWatJson(r: WarcRecord): Boolean =
    isMetadata(r) && r.contentType.exists(_.startsWith("application/json"))

  private val HtmlTypes = Set("text/html", "application/xhtml+xml")

  /** HTML payload detection (sparkcc.py:453-466): trust the
    * WARC-Identified-Payload-Type header when present, else substring
    * match on the HTTP Content-Type.
    */
  def isHtml(r: WarcRecord): Boolean =
    r.identifiedPayloadType match {
      case Some(t) => HtmlTypes.contains(t)
      case None =>
        r.http.flatMap(_.header("Content-Type")).exists { ct =>
          HtmlTypes.exists(ct.contains)
        }
    }

  /** HTTP redirect response (wat_extract_links.py:36-38: 301/302/303/307/308). */
  private val RedirectCodes = Set(301, 302, 303, 307, 308)
  def isRedirect(r: WarcRecord): Boolean =
    isResponse(r) && r.http.exists(h => RedirectCodes.contains(h.statusCode))

  /** robots.txt capture detection by archive path (wat_extract_links.py:41,
    * 68-75): the robots subset lives under …/robotstxt/….
    */
  def isRobotsTxtArchive(path: String): Boolean =
    path.contains("/robotstxt/") || path.contains("robotstxt-")
}
