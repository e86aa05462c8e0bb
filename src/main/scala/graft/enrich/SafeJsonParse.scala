package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's `safe_json_parse` (dag/vacancy_pipline_gpt_rerty.py:251-265,
  * :560-574): LLM replies arrive as markdown-fenced, prefixed or prose-wrapped
  * JSON; recover the embedded array of structs or give up gracefully.
  *
  * Chain (F4 → F5 → F6 in SURVEY.md §2.7):
  *  1. strip backtick fences and a leading `json` language tag,
  *  2. parse as `ARRAY<STRUCT<...>>`,
  *  3. if that fails, regex-extract the first `[ {...} ]` block (DOTALL) and
  *     parse that,
  *  4. still nothing → null (callers stub with defaults, dag:269-278).
  *
  * Exists in two forms with identical semantics: [[cleaned]]/[[parsedArray]]
  * as codegen'd Column expressions (for in-plan parsing at scale) and
  * [[SafeJsonParse.parseScala]] for the classifier's own calls on the driver
  * (where the HTTP reply is a plain String).
  */
object SafeJsonParse {

  /** F4: trim, drop ``` fences, drop a leading `json` tag. */
  def cleaned(raw: Column): Column = {
    val noFence = regexp_replace(trim(raw), "^`+|`+$", "")
    trim(regexp_replace(noFence, "^(?i)json", ""))
  }

  /** F5+F6: parse `ARRAY<STRUCT>` with the embedded-array regex fallback. */
  def parsedArray(raw: Column, schema: ArrayType): Column = {
    val direct = from_json(cleaned(raw), schema)
    val extracted = regexp_extract(raw, "(?s)\\[\\s*\\{.*\\}\\s*\\]", 0)
    coalesce(direct, from_json(extracted, schema))
  }

  private val fence = "^`+|`+$".r
  private val jsonTag = "(?i)^json".r
  private val embedded = "(?s)\\[\\s*\\{.*\\}\\s*\\]".r

  /** Executor-side twin used by [[HttpClassifier]]: extract
    * (original, category, specialization) triples from a junk-wrapped JSON
    * array. Minimal recursive-descent-free parsing via org.json4s? — not
    * available offline; a small hand parser handles the flat object shape the
    * prompts demand (string fields only, no nesting).
    */
  def parseScala(raw: String): Seq[Classified] = {
    def tryParse(s: String): Option[Seq[Classified]] = {
      val t = s.trim
      if (!t.startsWith("[") || !t.endsWith("]")) None
      else {
        val objs = "\\{[^{}]*\\}".r.findAllIn(t).toSeq
        val rows = objs.flatMap { o =>
          def field(name: String): Option[String] =
            (s""""$name"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(o)
              .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
          field("original").map { orig =>
            Classified(orig,
              field("category").orElse(field("normalized_title")).getOrElse(""),
              field("specialization").getOrElse(""))
          }
        }
        if (rows.nonEmpty) Some(rows) else None
      }
    }
    val defenced = jsonTag.replaceFirstIn(fence.replaceAllIn(raw.trim, ""), "").trim
    tryParse(defenced)
      .orElse(embedded.findFirstIn(raw).flatMap(tryParse))
      .getOrElse(Nil) // dag:269-278: unparseable -> caller stubs the batch
  }
}
