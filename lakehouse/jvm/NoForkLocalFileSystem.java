package lakehouse.jvm;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed {@code file:} filesystem ({@code fs.file.impl}) over
 * {@link NoForkRawLocalFileSystem}: {@code .crc} sidecars are written and
 * verified exactly as by the stock {@link LocalFileSystem}.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new NoForkRawLocalFileSystem());
  }
}
