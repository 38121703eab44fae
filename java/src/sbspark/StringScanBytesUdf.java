package sbspark;

import java.util.List;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.api.java.UDF4;

/**
 * sb_scan_strings_bytes(data, start, valid_length, spec)
 *   -> array&lt;struct&lt;global_start,byte_length,content,encoding,
 *      url_like,email_like,phone_like&gt;&gt;
 *
 * Span scan over a materialised chunk blob — parent-chunk geometry
 * (runs anchor at the blob start, truncate at the blob end, pieces
 * with local offset >= valid_length dropped), identical rows to the
 * Python oracle's blob_spans (tests/oracles/strings.py).
 */
public class StringScanBytesUdf implements UDF4<byte[], Long, Long, String, List<Row>> {
  @Override
  public List<Row> call(byte[] data, Long start, Long validLength, String spec)
      throws Exception {
    Strs s = Strs.get(spec);
    long base = start;
    return s.scanWindow(data, base, base, base + validLength, base + data.length, null);
  }
}
