package lakehouse.jvm;

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

/**
 * The checksummed {@code file:} FileContext filesystem
 * ({@code fs.AbstractFileSystem.file.impl}) over
 * {@link NoForkRawLocalFileSystem}. It mirrors Hadoop's
 * {@code LocalFs}/{@code RawLocalFs} pair, whose constructors cannot be
 * reached from outside their package. Spark's streaming checkpoints and
 * state stores write through this path.
 */
public class NoForkLocalFs extends ChecksumFs {
  public NoForkLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NoForkRawLocalFileSystem(), conf,
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
