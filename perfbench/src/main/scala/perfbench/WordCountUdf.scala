package perfbench

import graft.api.{TextMapper, TextReducer}

/** Word count as user classes for `--query custom`: the mapper follows
  * the reference map UDF (lowercase, punctuation to space, split on
  * spaces, drop empty tokens) and emits one (word, 1) pair per token; the
  * reducer counts its group. */
class WordMapper extends TextMapper {
  override def map(record: String): IterableOnce[(String, String)] =
    record.toLowerCase.replaceAll("\\p{Punct}", " ").split(' ').iterator
      .filter(_.nonEmpty).map(w => (w, "1"))
}

class WordReducer extends TextReducer {
  override def reduce(key: String, values: Iterator[String]): String = values.size.toString
}
