package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Path normalization semantics (reference: src/main.rs:112-122).
  *
  * `\` becomes `/` everywhere; then ALL leading `./` prefixes are stripped
  * (Rust's `trim_start_matches` strips repeatedly), but interior `./` stays —
  * `./nested/./folder` → `nested/./folder` (reference test src/main.rs:871-893).
  */
object PathNorm {
  def normalize(value: String): String = {
    var s = value.replace('\\', '/')
    while (s.startsWith("./")) s = s.substring(2)
    s
  }

  /** Column form — codegen-friendly, no UDF. */
  def normalizeCol(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\\\", "/"), "^(\\./)+", "")
}
