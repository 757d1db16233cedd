package maxscale.cdc.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/** {@code fs.AbstractFileSystem.file.impl}: what {@code LocalFs} is (a
 * ChecksumFs over a delegate of the raw local FileSystem), with
 * {@link ForkFreeRawLocalFileSystem} as the raw FileSystem. */
public class ForkFreeLocalFs extends ChecksumFs {

  public ForkFreeLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** {@code RawLocalFs} over the fork-free FileSystem. */
  static class Raw extends DelegateToFileSystem {

    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
