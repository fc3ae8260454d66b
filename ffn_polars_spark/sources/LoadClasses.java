// Loads, without initializing them, the classes named in a JVM class list
// (-XX:DumpLoadedClassList), so that a JVM started with
// -XX:ArchiveClassesAtExit writes them to its class archive as it exits.
// ffn_polars_spark.sources.get_spark runs it in source-file mode:
//
//     java [the session JVM's options] LoadClasses.java <class list>
public class LoadClasses {
    public static void main(String[] args) throws java.io.IOException {
        ClassLoader app = ClassLoader.getSystemClassLoader();
        for (String line : java.nio.file.Files.readAllLines(java.nio.file.Path.of(args[0]))) {
            // "#" comments, "@lambda-proxy" and "@lambda-form-invoker" lines
            if (line.isEmpty() || line.startsWith("#") || line.startsWith("@")) {
                continue;
            }
            try {
                Class.forName(line.split(" ", 2)[0].replace('/', '.'), false, app);
            } catch (ClassNotFoundException | LinkageError e) {
                // a class the session generated, which no class file holds
            }
        }
    }
}
