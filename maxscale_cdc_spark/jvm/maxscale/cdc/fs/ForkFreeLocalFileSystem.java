package maxscale.cdc.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/** {@code fs.file.impl}: the checksummed local FileSystem (.crc side files)
 * over {@link ForkFreeRawLocalFileSystem}. */
public class ForkFreeLocalFileSystem extends LocalFileSystem {

  public ForkFreeLocalFileSystem() {
    super(new ForkFreeRawLocalFileSystem());
  }
}
